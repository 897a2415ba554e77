"""Deterministic sampling & split assignment — training-pipeline ops.

A 100 TB curation run can't use ``df.sample`` for train/val/test
splits: Spark's sampler is seeded per-partition, so the assignment of
a ROW changes whenever partitioning changes (repartition, AQE, scale
factor), and reruns aren't reproducible across layouts. The
production-safe form hashes a STABLE ID into a unit interval and
thresholds it — assignment is a pure function of the row, independent
of partitioning, cluster size, and execution order.

The hash here is Knuth's multiplicative congruential step
(id · 2654435761 mod 2³²) — plain BIGINT arithmetic, so the DuckDB
oracle reproduces it exactly (unlike xxhash64, which DuckDB lacks).
For adversarial id distributions compose with ``F.xxhash64`` first;
for the oracle-checked corpus the arithmetic form is the point.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.session import local_frame

KNUTH = 2654435761  # 2^32 / golden ratio, Knuth multiplicative hash
# Alternate odd multipliers (xxhash32's public primes) for pipelines
# that need SEVERAL independent-looking draws per id. Additive
# "salting" of ONE multiplicative hash does NOT work:
# unit_hash(id + c) = frac(unit_hash(id) + c·K/2³²) is a pure rotation
# of the same draw, so chained selections stay perfectly correlated
# (the round-3 advisor bug in plans/training_export.py). A different
# odd multiplier per stage gives a genuinely different permutation.
MULT_B = 2246822519  # xxhash32 PRIME2
MULT_C = 3266489917  # xxhash32 PRIME3
M32 = 1 << 32


def unit_hash(id_col: Column, mult: int = KNUTH) -> Column:
    """Deterministic uniform-ish value in [0, 1) from an integer id.

    ``mult`` must be odd (bijective mod 2³²); pass a distinct
    multiplier (``MULT_B``/``MULT_C``) per stage when one pipeline
    thresholds the hash more than once — see note above.
    """
    return (
        F.pmod(id_col.cast("bigint") * F.lit(int(mult)), F.lit(M32))
        / F.lit(M32)
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
) -> DataFrame:
    """Assign every row to a named split by thresholding the unit
    hash: cumulative fraction boundaries partition [0, 1). Adds a
    ``split`` column; fractions must sum to 1."""
    total = sum(f for _, f in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    u = unit_hash(F.col(id_col))
    expr = None
    cum = 0.0
    for name, frac in splits[:-1]:
        cum += frac
        cond = u < F.lit(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(splits[-1][0]) if expr is None else expr.otherwise(splits[-1][0])
    )
    return df.withColumn("split", expr)


def deterministic_sample(
    df: DataFrame, id_col: str, fraction: float
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen purely by id hash — the
    same rows survive under any partitioning, cluster size, or rerun
    (``df.sample`` guarantees none of these)."""
    return df.filter(unit_hash(F.col(id_col)) < F.lit(float(fraction)))


def stratified_sample(
    df: DataFrame,
    class_col: str,
    id_col: str,
    n_per_class: int,
) -> DataFrame:
    """Deterministic per-class cap: keep the ``n_per_class`` rows with
    the smallest unit-hash inside every class (ties broken by id).

    The balanced-corpus op (cap each source/domain/language at N docs)
    phrased as one ranking window per class — a single shuffle on the
    class key, no driver-side class enumeration, and the SAME rows
    survive under any partitioning or cluster size because rank order
    is a pure function of the row. For classes with heavy skew the
    window sort is per-class (each reducer sorts only its classes);
    at 100 TB a two-phase refinement (per-partition top-N, then
    global top-N per class) drops the sort to O(partition · N) — the
    rank operator in operators/rank.py implements that shape.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(class_col).orderBy(
        unit_hash(F.col(id_col)).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_class)
        .drop("__rn")
    )


def priority_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Weight-proportional sample of ``k`` rows WITHOUT replacement —
    priority sampling (Duffield–Lund–Thorup): each row gets priority
    ``u / w`` with ``u`` the deterministic unit hash of its id, and
    the k smallest priorities win (heavier rows draw smaller
    priorities, so inclusion probability scales with weight; with τ
    the (k+1)-th smallest priority, the unbiased subset-sum
    estimator for a sampled row is ŵ = max(w, 1/τ) if callers
    need it).

    Chosen over Efraimidis–Spiridakis keys (u^(1/w)) deliberately:
    the priority is ONE IEEE division of reproducible values — no
    pow/exp, so the sample is bit-identical across engines, reruns,
    and partitionings. The top-k is orderBy+limit →
    TakeOrderedAndProject: per-partition heaps then a k-row merge,
    never a global sort.
    """
    pri = unit_hash(F.col(id_col)) / F.col(weight_col)
    return (
        df.withColumn("priority", pri)
        .orderBy(F.col("priority").asc(), F.col(id_col).asc())
        .limit(k)
    )


def domain_mixture_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    weights: dict[str, float],
    k: int,
) -> DataFrame:
    """Rebalance a corpus toward a target domain mixture (the
    Pile-style data-recipe op): draw ≈``k`` rows with expected
    per-domain share ``weights[d]``, by thresholding the unit hash at
    ``min(1, k·w_d / n_d)`` per domain. Over-represented domains are
    downsampled toward their target share; a domain whose target
    exceeds its population keeps every row (fraction capped at 1 —
    upsampling/repetition is x7's packing concern, not sampling's).

    One vocabulary-sized count aggregation, broadcast back with the
    weight table; selection is then a pure row-local predicate —
    deterministic under any partitioning, layout, or retry, and
    exactly reproducible by the SQL oracle (Knuth-hash arithmetic,
    no RNG)."""
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    w = local_frame(
        df.sparkSession, weights.items(), f"{domain_col} string, __wt double"
    )
    frac = F.least(
        F.lit(1.0),
        F.lit(float(k)) * F.col("__wt") / F.col("__n").cast("double"),
    )
    return (
        df.join(F.broadcast(counts), domain_col)
        .join(F.broadcast(w), domain_col)
        .filter(unit_hash(F.col(id_col)) < frac)
        .drop("__n", "__wt")
    )


def group_aware_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
) -> DataFrame:
    """Leakage-free train/val/test assignment: split by NEAR-DUP
    CLUSTER, not by document. Plain hash_split leaks — two near-
    duplicates can land in train and test, inflating eval (the
    contamination connected-components dedup exists to prevent).
    Here every doc inherits its cluster id (min reachable id via
    connected_components; singletons keep their own id) and the
    Knuth unit hash thresholds THAT, so a whole cluster moves
    together by construction.

    Shape: pairs → iterative min-label propagation (bounded rounds,
    equi-joins only) → one broadcast-or-hash join back onto docs →
    the same plan-constant hash CASE as hash_split. Adds
    ``group_id`` and ``split``."""
    from eco_pulse_lakehouse_spark.operators.components import (
        connected_components,
    )

    comp = connected_components(pairs, a_col, b_col)
    grouped = (
        docs.join(comp, docs[id_col] == comp["id"], "left")
        .withColumn(
            "group_id",
            F.coalesce(F.col("comp"), F.col(id_col)).cast("bigint"),
        )
        .drop("id", "comp")
    )
    return hash_split(grouped, "group_id", splits)


def temperature_mixture_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    k: int,
    alpha: float = 0.5,
    mult: int = KNUTH,
) -> DataFrame:
    """Temperature-weighted domain REBALANCING — the multilingual /
    data-recipe sampler (mBERT, XLM-R, T5 all sample language d with
    p_d ∝ n_d^alpha, alpha<1): keep each row of domain d with
    fraction ``min(1, k · n_d^alpha / (S · n_d))`` where
    ``S = Σ_d n_d^alpha`` — flattening the head domains toward the
    tail so low-resource domains aren't drowned, without the manual
    weight table domain_mixture_sample needs.

    Determinism/parity: domain scores are sqrt(n_d) rounded to 1e-6
    fixed-point BIGINTs (sqrt is correctly-rounded IEEE — identical
    in any engine; the default alpha=0.5 is also the common recipe
    value), S is an exact BIGINT sum, and the keep threshold is ONE
    double division of exact integer products — so selection
    replays bit-for-bit in SQL (alpha != 0.5 goes through pow(),
    which is not correctly-rounded; those variants are pinned by
    pytest instead of an oracle). Selection itself is the Knuth unit
    hash — partitioning/retry/layout invariant, no RNG. Cost: one
    domain-sized count aggregation broadcast back; the filter is a
    row-local predicate."""
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    nd = F.col("__n").cast("double")
    raw = (
        F.sqrt(nd)
        if alpha == 0.5
        else F.pow(nd, F.lit(float(alpha)))
    )
    from pyspark.sql import Window

    # S rides along via an empty-partition window — the score table
    # is domain-sized (a handful of rows), so the single-partition
    # stage is free and avoids a self-join on the aggregate's lineage
    scores = counts.withColumn(
        "__s", F.round(raw * F.lit(1_000_000.0), 0).cast("bigint")
    ).withColumn("__tot", F.sum("__s").over(Window.partitionBy()))
    # Denominator multiplies AFTER the double casts: __tot·__n in
    # BIGINT overflows at advertised scale (10 domains × 1e8 rows →
    # tot·n ≈ 1e19 > 2⁶³, silently wrapping negative in non-ANSI mode
    # so the whole domain would be dropped). k·__s stays in BIGINT
    # range (k·√n·1e6 ≪ 2⁶³ for any real n).
    keep = F.least(
        F.lit(1.0),
        (F.lit(int(k)).cast("bigint") * F.col("__s")).cast("double")
        / (F.col("__tot").cast("double") * F.col("__n").cast("double")),
    )
    return (
        df.join(F.broadcast(scores), domain_col)
        .filter(unit_hash(F.col(id_col), mult=mult) < keep)
        .drop("__n", "__s", "__tot")
    )


def unimax_quotas(
    lang_totals: DataFrame,
    lang_col: str = "lang",
    n_col: str = "n_tokens",
    token_budget: int | None = None,
    max_epochs: int = 2,
    budget_num: int = 1,
    budget_den: int = 1,
) -> DataFrame:
    """UniMax per-language token quotas (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"): spread a total ``token_budget`` as
    uniformly as possible across languages, capping every language at
    ``max_epochs`` passes over its own data. UniMax's sequential
    greedy (smallest language first: grant min(E·n_l, fair share of
    what's left), recompute the fair share) has a CLOSED FORM because
    caps are ascending with n: once one language takes the fair share
    instead of its cap, every later (larger) language does too, and
    the fair share stays constant from that point on. So with
    languages ordered by (n asc, lang asc), cap_l = E·n_l:

        capped_l  ⇔  cap_l · (L − i + 1) ≤ B − Σ_{j<i} cap_j
        quota_l   =  cap_l                              if capped
                  =  R div m  (+1 for the last R mod m  otherwise
                               uncapped languages)
        with R = B − Σ_capped cap_j and m = |uncapped|.

    The cross-multiplied test equals the greedy's integer-div branch
    test (cap ≤ ⌊R/m⌋ ⇔ cap·m ≤ R), and iterated integer fair
    division over the uncapped suffix distributes R as evenly as
    possible with the +1 remainders landing on the LAST ``R mod m``
    languages — so this closed form reproduces the paper's
    sequential loop EXACTLY, integer-division remainders rolled
    forward and all (pinned against a literal greedy replay in
    tests). Everything is BIGINT. At
    advertised scale cap·L ≈ E·n_max·L needs E·L·n < 2⁶³ — safe past
    10¹⁶ tokens per language. The table is language-sized (a handful
    of rows), so the unpartitioned windows below cost nothing — the
    temperature_mixture_sample precedent. ``token_budget=None``
    derives B from the corpus itself as the exact rational
    ``(budget_num · Σ n) div budget_den`` (default: one full
    corpus-worth) — integer arithmetic, never a float of Σ n. Returns
    (lang, n, cap, capped, lang_quota); a capped language's quota can
    exceed its size (max_epochs > 1 grants repetition headroom — the
    consumer's packing stage realizes the extra epochs)."""
    from pyspark.sql import Window

    lt = lang_totals.select(
        F.col(lang_col),
        F.col(n_col).cast("bigint").alias("n"),
    ).withColumn("cap", F.lit(int(max_epochs)).cast("bigint") * F.col("n"))
    if token_budget is None:
        bud = lt.agg(
            F.expr(
                f"CAST(({int(budget_num)} * sum(n)) div {int(budget_den)}"
                " AS BIGINT)"
            ).alias("__b")
        )
        lt = lt.crossJoin(F.broadcast(bud))
    else:
        lt = lt.withColumn("__b", F.lit(int(token_budget)).cast("bigint"))
    w_ord = Window.orderBy(F.col("n").asc(), F.col(lang_col).asc())
    flags = (
        lt.withColumn("__i", F.row_number().over(w_ord).cast("bigint"))
        .withColumn(
            "__L", F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint")
        )
        .withColumn(
            "__cumprev",
            F.coalesce(
                F.sum("cap").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("bigint"),
        )
        .withColumn(
            "capped",
            F.col("cap") * (F.col("__L") - F.col("__i") + 1)
            <= F.col("__b") - F.col("__cumprev"),
        )
    )
    pool = flags.agg(
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0)
        ).cast("bigint").alias("__capsum"),
        F.sum(F.when(F.col("capped"), 0).otherwise(1))
        .cast("bigint")
        .alias("__nunc"),
    )
    # uncapped shares: base = R div m, +1 for the last (R mod m)
    # languages in the (n asc, lang asc) order — the capped set is a
    # contiguous prefix of that order, so "last r uncapped" is just
    # __i > L − r
    return (
        flags.crossJoin(F.broadcast(pool))
        .withColumn(
            "lang_quota",
            F.when(F.col("capped"), F.col("cap")).otherwise(
                F.expr(
                    "(__b - __capsum) div __nunc"
                    " + CASE WHEN __i > __L - (__b - __capsum) % __nunc"
                    " THEN 1 ELSE 0 END"
                )
            ).cast("bigint"),
        )
        .select(lang_col, "n", "cap", "capped", "lang_quota")
    )


def unimax_select(
    docs: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
    token_budget: int | None = None,
    max_epochs: int = 2,
    mult: int = KNUTH,
    budget_num: int = 1,
    budget_den: int = 1,
) -> DataFrame:
    """Materialize a UniMax mixture (:func:`unimax_quotas`) as a
    document manifest: within each language, documents are consumed
    in deterministic pseudo-shuffled order (Knuth unit hash, id
    tiebreak) until the language's running token total reaches its
    quota — the per-language twin of selection.py:budget_select's
    budget prefix. A capped language (quota ≥ its size) keeps every
    document; uncapped (large) languages truncate at the shared fair
    quota.

    Scale shape: the naive per-language cumulative window sorts each
    language in ONE task (a 40-TB-of-`en` task at corpus scale), so
    the running total comes from rank.py:global_running_sum over the
    TOTAL order (lang, hash, id) — languages are contiguous in that
    order, so each row's within-language running total is the global
    one minus its language's prefix offset, and the offsets are a
    language-sized broadcast (exact BIGINT window over the totals
    table). Returns (id, lang, n_tokens, lang_run_tokens, lang_quota)
    for the kept rows."""
    from eco_pulse_lakehouse_spark.functions.text import token_count

    toks = docs.select(
        F.col(id_col),
        F.col(lang_col),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
    )
    return unimax_select_from_tokens(
        toks, id_col, lang_col, token_budget, max_epochs, mult,
        budget_num, budget_den,
    )


def unimax_select_from_tokens(
    toks: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    token_budget: int | None = None,
    max_epochs: int = 2,
    mult: int = KNUTH,
    budget_num: int = 1,
    budget_den: int = 1,
) -> DataFrame:
    """:func:`unimax_select` from a pre-featurized
    ``(id, lang, n_tokens)`` manifest — split out because the
    manifest rows are LINEAR partials when documents partition across
    batches (each doc's row is complete within its batch, so the
    manifest is a plain union): a streaming ingest maintains it
    incrementally and re-balancing after corpus growth re-runs ONLY
    this selection over the manifest, never a re-scan of the text
    (t46_stream_unimax). Same output contract as unimax_select."""
    from pyspark.sql import Window

    from eco_pulse_lakehouse_spark.operators.rank import global_running_sum

    toks = toks.select(
        F.col(id_col),
        F.col(lang_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        unit_hash(F.col(id_col), mult=mult).alias("__u"),
    )
    totals = toks.groupBy(lang_col).agg(
        F.sum("n_tokens").cast("bigint").alias("n_tokens")
    )
    quotas = unimax_quotas(
        totals, lang_col, "n_tokens", token_budget, max_epochs,
        budget_num, budget_den,
    )
    # per-language global-prefix offsets: tokens of all languages
    # strictly before this one in the (lang asc) order — the totals
    # table is language-sized, so the unpartitioned window is free
    w_lang = Window.orderBy(F.col(lang_col).asc())
    prefix = totals.select(
        lang_col,
        F.coalesce(
            F.sum("n_tokens").over(
                w_lang.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint").alias("__prev"),
    )
    run = global_running_sum(
        toks,
        [F.col(lang_col).asc(), F.col("__u").asc(), F.col(id_col).asc()],
        ["n_tokens"],
    )
    return (
        run.join(F.broadcast(prefix), lang_col)
        .withColumn(
            "lang_run_tokens",
            (F.col("run_n_tokens") - F.col("__prev")).cast("bigint"),
        )
        .join(
            F.broadcast(quotas.select(lang_col, "lang_quota")), lang_col
        )
        .filter(F.col("lang_run_tokens") <= F.col("lang_quota"))
        .select(
            id_col, lang_col, "n_tokens", "lang_run_tokens", "lang_quota"
        )
    )


def curriculum_order(
    docs: DataFrame,
    id_col: str,
    score_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """CURRICULUM training order: rank the corpus into quality
    buckets (highest score first), deterministically shuffle WITHIN
    each bucket, and assign every document its global training
    position — the easy-to-hard data schedule curriculum-learning
    recipes feed a trainer, as a reproducible table rather than a
    runtime sampler. Within-bucket order is the Knuth unit hash of
    the id (layout/retry-invariant pseudo-shuffle — adjacent
    documents are unrelated, which is what the trainer wants), never
    an RNG.

    Both global orders run through the range-partitioned rank
    composition (operators/rank.py:global_row_number) — no
    single-partition window at any scale. Bucket assignment is
    exact equi-depth: bucket = floor((rank-1)·n_buckets / N).
    Returns (id, score, bucket, train_pos)."""
    from eco_pulse_lakehouse_spark.operators.rank import global_row_number

    ranked = global_row_number(
        docs.select(id_col, score_col),
        [F.col(score_col).desc(), F.col(id_col).asc()],
        out_col="__qrank",
    )
    n = ranked.count()
    bucketed = ranked.withColumn(
        "bucket",
        F.floor(
            (F.col("__qrank") - 1) * F.lit(int(n_buckets)) / F.lit(float(n))
        ).cast("int"),
    )
    ordered = global_row_number(
        bucketed,
        [
            F.col("bucket").asc(),
            unit_hash(F.col(id_col)).asc(),
            F.col(id_col).asc(),
        ],
        out_col="train_pos",
    )
    return ordered.select(id_col, score_col, "bucket", "train_pos")
