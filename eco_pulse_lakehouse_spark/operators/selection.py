"""Data selection with importance resampling (DSIR) — hashed n-gram
importance weights for target-distribution-matched corpus selection
(Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023).

The 100 TB curation problem: given a huge raw pool and a small
high-quality target set, select raw documents whose token statistics
resemble the target. DSIR fits two bag-of-hashed-n-grams unigram
models (target and raw), scores every raw document by its log
importance weight

    w(doc) = Σ_features  log( p_target(bucket(f)) / p_raw(bucket(f)) )

and keeps the top-k — or resamples with Gumbel noise
(:func:`dsir_gumbel_resample`, the paper's actual rule, made
reproducible AND oracle-checkable by seeding the noise from the
row's unit hash), or takes the greedy weight-order prefix up to a
token budget (:func:`budget_select`), or keeps the best member of
each near-dup cluster (:func:`canonical_per_cluster`).

Shape (the part that must survive 100 TB):
  - ONE scan of the pool builds BOTH bucket-count tables — the target
    is a predicate over the same rows, so ``c_target`` is a
    conditional count inside the same vocab-sized, map-side-combinable
    groupBy. No second pass.
  - The per-bucket log-ratio table has exactly ``n_buckets`` rows
    (the point of feature hashing) — it broadcasts everywhere.
  - Per-document weights are ONE groupBy(doc) over the exploded
    feature stream with the broadcast weight joined in; the only
    per-document shuffle carries (doc_id, fp_weight) longs.
  - Selection is top-k by weight = TakeOrderedAndProject, never a
    global sort.

Determinism contract (the corpus float policy): the smoothed
probability ratio is computed with a FIXED expression tree of
correctly-rounded IEEE ops — (2c_t+1)/(2N_t+B) and (2c_r+1)/(2N_r+B)
as single divisions of exact integers (doubled to clear the ½
Laplace term without leaving integer land), one more division for
the ratio — then ln() rounds to a 1e-6 fixed-point BIGINT per BUCKET
(ln is 1-ulp unstable across libms; the unigram_logprob rule), so
every per-document sum is exact integer addition in any order.

Features are unigrams plus word bigrams hashed with the
SQL-replayable char-fold ``poly_token_hash`` (dedup.py) mod
``n_buckets`` — the DuckDB oracle replays the whole pipeline.

Reference parity note: raulJD13/eco-pulse-lakehouse has no data-
selection stage (its curate step is filter+dedup only); this extends
the X6 sampling family the way a pre-training pipeline needs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.functions.text import tokens, word_shingles
from eco_pulse_lakehouse_spark.operators.dedup import poly_token_hash
from eco_pulse_lakehouse_spark.session import pin

FP_SCALE = 1_000_000


def _hashed_features(text: Column, n_buckets: int) -> Column:
    """Unigram + bigram feature stream, hashed to [0, n_buckets)."""
    feats = F.concat(tokens(text), word_shingles(text, 2))
    return F.transform(
        feats, lambda t: F.pmod(poly_token_hash(t), F.lit(n_buckets))
    )


def bucket_log_ratios(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    n_buckets: int = 128,
    fp_scale: int = FP_SCALE,
) -> DataFrame:
    """Per-bucket fixed-point log importance ratio
    ``round(ln(p̂_target(b) / p̂_raw(b)) · fp_scale)`` with add-½
    Laplace smoothing. One corpus scan: the target counts are a
    conditional sum inside the same groupBy. Returns
    (bucket, c_target, c_raw, w_fp) — at most ``n_buckets`` rows."""
    feat = docs.select(
        target_pred.alias("__is_t"),
        F.explode(_hashed_features(F.col(text_col), n_buckets)).alias(
            "bucket"
        ),
    )
    counts = feat.groupBy("bucket").agg(
        F.sum(F.when(F.col("__is_t"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_target"),
        F.count(F.lit(1)).cast("bigint").alias("c_raw"),
    )
    return ratio_table(counts, n_buckets, fp_scale)


def ratio_table(
    counts: DataFrame, n_buckets: int, fp_scale: int = FP_SCALE
) -> DataFrame:
    """The counts→ratios stage of :func:`bucket_log_ratios`, split
    out so an INCREMENTAL pipeline (t37: per-batch (bucket, c_target,
    c_raw) partials, SUM-merged) feeds the identical fixed
    expression tree. Input: (bucket, c_target, c_raw)."""
    totals = counts.agg(
        F.sum("c_target").alias("__nt"), F.sum("c_raw").alias("__nr")
    )
    b = F.lit(int(n_buckets)).cast("bigint")
    p_t = (2 * F.col("c_target") + 1).cast("double") / (
        2 * F.col("__nt") + b
    ).cast("double")
    p_r = (2 * F.col("c_raw") + 1).cast("double") / (
        2 * F.col("__nr") + b
    ).cast("double")
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "c_target",
        "c_raw",
        F.round(F.log(p_t / p_r) * fp_scale, 0).cast("bigint").alias("w_fp"),
    )


def dsir_weights(
    docs: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    fp_scale: int = FP_SCALE,
) -> DataFrame:
    """Per-document DSIR log importance weight over the raw pool.

    Returns (id_col, n_feats, weight_fp): ``weight_fp`` is the exact
    BIGINT sum of per-feature fixed-point bucket ratios — divide by
    ``fp_scale`` for nats. The ≤``n_buckets``-row ratio table
    broadcasts onto the doc-bucket table, so the only document-keyed
    shuffle carries a handful of longs per document.

    ONE featurize pass (r14, guide §2.4): the old form tokenized and
    hashed the corpus twice — once for the bucket count table
    (:func:`bucket_log_ratios`) and once for the per-document sums.
    Now the exploded feature stream is aggregated ONCE into a pinned
    (id, is_target, bucket, n) doc-bucket table — the artifact
    plans/curation.py already builds — and both consumers derive from
    it: the count table as Σn by bucket, the weights as Σ n·w_fp by
    document. All integer sums, so results are bit-identical to the
    two-pass form (Σ_bucket n·w_fp ≡ Σ_features w_fp); the
    interpreted per-character hash folds — the measured hot stage —
    run once per token instead of twice."""
    dbc = pin(
        docs.select(
            F.col(id_col),
            target_pred.alias("__is_t"),
            F.explode(_hashed_features(F.col(text_col), n_buckets)).alias(
                "bucket"
            ),
        )
        .groupBy(id_col, "__is_t", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    counts = dbc.groupBy("bucket").agg(
        F.sum(F.when(F.col("__is_t"), F.col("__n")).otherwise(0))
        .cast("bigint")
        .alias("c_target"),
        F.sum("__n").cast("bigint").alias("c_raw"),
    )
    ratios = ratio_table(counts, n_buckets, fp_scale)
    return (
        dbc.join(F.broadcast(ratios.select("bucket", "w_fp")), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("__n").cast("bigint").alias("n_feats"),
            F.sum(F.col("__n") * F.col("w_fp")).alias("weight_fp"),
        )
    )


def dsir_select(
    docs: DataFrame,
    target_pred: Column,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    fp_scale: int = FP_SCALE,
) -> DataFrame:
    """Top-k raw documents by DSIR weight, deterministic ``id_col``
    tiebreak (TakeOrderedAndProject — k rows reach the driver side,
    never a global sort)."""
    w = dsir_weights(docs, target_pred, id_col, text_col, n_buckets, fp_scale)
    return w.orderBy(
        F.col("weight_fp").desc(), F.col(id_col).asc()
    ).limit(k)


def dsir_gumbel_resample(
    docs: DataFrame,
    target_pred: Column,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    fp_scale: int = FP_SCALE,
) -> DataFrame:
    """The DSIR paper's ACTUAL selection rule — importance
    RESAMPLING without replacement via the Gumbel-top-k trick
    (Vieira 2014; Kool et al. 2019): sample k docs ∝ exp(weight) by
    taking the top-k of ``weight + Gumbel noise``.

    Production pipelines need the draw REPRODUCIBLE across reruns,
    partitionings, and engines, so the noise is seeded from the row
    itself: u = (id·K mod 2³²  + ½) / 2³² (the Knuth multiplicative
    unit hash, shifted half a step so u ∈ (0,1) strictly — u=0 at
    id=0 would send g to −∞), g = −ln(−ln u). Both ln's round
    through the 1e-6 fixed-point rule, so the selection key
    ``weight_fp + g_fp`` is exact integer math and the selected SET
    is deterministic (id tiebreak). Still TakeOrderedAndProject —
    noise is row-local, no extra shuffle over dsir_select."""
    from eco_pulse_lakehouse_spark.operators.sampling import KNUTH, M32

    w = dsir_weights(docs, target_pred, id_col, text_col, n_buckets, fp_scale)
    u = (
        F.pmod(F.col(id_col).cast("bigint") * F.lit(KNUTH), F.lit(M32))
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(M32))
    g_fp = F.round(-F.log(-F.log(u)) * fp_scale, 0).cast("bigint")
    return (
        w.withColumn("key_fp", F.col("weight_fp") + g_fp)
        .orderBy(F.col("key_fp").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "weight_fp", "key_fp")
    )


def soft_dedup_weights(
    docs: DataFrame,
    content_cols: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """SoftDeDup (He et al. 2024, arXiv:2407.06654 family): instead
    of DROPPING exact duplicates, keep every copy but DOWN-WEIGHT it
    so each duplicate group contributes one document's worth of
    sampling mass — weight = 1 / |group|. Hard dedup loses the
    (often quality-correlated) signal that a document was replicated;
    soft dedup preserves corpus coverage while killing the
    over-representation.

    One window count over the content key — the same single shuffle
    as exact_dedup; 1/n is a single correctly-rounded IEEE division,
    so weights are bit-identical in any engine. At 100 TB the
    partition key swaps for content_key() (32-byte sha2) like the
    rest of the exact-dedup family. Returns (id, n_copies, weight)."""
    w = Window.partitionBy(*[F.col(c) for c in content_cols])
    return docs.select(
        F.col(id_col),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_copies"),
        (F.lit(1.0) / F.count(F.lit(1)).over(w).cast("double")).alias(
            "weight"
        ),
    )


def budget_select(
    docs: DataFrame,
    target_pred: Column,
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    fp_scale: int = FP_SCALE,
) -> DataFrame:
    """Budget-constrained selection: take documents in DSIR-weight
    order until the cumulative token count reaches ``token_budget`` —
    how a training run actually consumes a selection ("give me the
    best 50B tokens", not "the best k documents").

    The greedy prefix needs a cumulative sum over a GLOBAL order;
    the naive window (no PARTITION BY) collapses to one task, so
    this composes rank.py:global_running_sum — range partition on
    the (weight desc, id) total order, partition-local running sums,
    broadcast per-partition offsets (O(partitions) driver metadata,
    the sanctioned collect). Returns the selected manifest
    (id, weight_fp, n_tokens, run_tokens) with run_tokens the
    inclusive cumulative count."""
    from eco_pulse_lakehouse_spark.operators.rank import global_running_sum

    w = dsir_weights(docs, target_pred, id_col, text_col, n_buckets, fp_scale)
    # n_tokens derived from the weight pass's own feature count (r14):
    # the DSIR feature stream is unigrams + word bigrams, so a doc
    # with n tokens carries exactly n + max(n−1, 0) = 2n−1 features
    # (split(text, ' ') yields ≥1 token for ANY string, so n ≥ 1 and
    # the formula never degenerates) — n_tokens = (n_feats + 1) div 2,
    # exact integer math, ≡ token_count(text). Replaces a second full
    # corpus scan + tokenize + document-keyed join (guide §2.4).
    joined = w.withColumn(
        "n_tokens", F.expr("(n_feats + 1) div 2").cast("bigint")
    )
    run = global_running_sum(
        joined,
        [F.col("weight_fp").desc(), F.col(id_col).asc()],
        ["n_tokens"],
    )
    return run.filter(F.col("run_n_tokens") <= token_budget).select(
        id_col,
        "weight_fp",
        "n_tokens",
        F.col("run_n_tokens").alias("run_tokens"),
    )


def canonical_per_cluster(
    docs: DataFrame,
    pairs: DataFrame | None,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    fp_scale: int = FP_SCALE,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Canonical-document selection: resolve near-dup PAIRS into
    clusters and keep the BEST copy of each — best by DSIR importance
    weight, not first-seen. Keep-first (line_dedup) and keep-lowest-id
    (exact_dedup) are arbitrary among copies; modern curation keeps
    the copy most like the target distribution (the cleanest render
    of a page that was scraped five ways) — quality-aware canonical
    selection over connected components.

    Shape: components.py:connected_components (pointer-jumping
    min-label, raises on non-convergence), singletons folded back as
    their own cluster via a LEFT join from the doc spine, one
    per-cluster ranking window over (weight desc, id). Returns
    (comp, id, weight_fp, n_members) — one row per cluster, comp =
    the cluster's min doc id.

    ``labels``: optional precomputed (id, comp) label table replacing
    the CC run — the incremental-maintenance hook (t53): a stream
    that already carries the min-label star forest
    (components.py:incremental_components_update preserves exactly
    the invariant connected_components establishes) plugs its final
    state in here and the canonical stage is byte-identical."""
    if labels is None:
        from eco_pulse_lakehouse_spark.operators.components import (
            connected_components,
        )

        cc = connected_components(pairs, "id_a", "id_b")
    else:
        cc = labels.select("id", "comp")
    full = (
        docs.select(F.col(id_col))
        .join(cc, F.col(id_col) == F.col("id"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col(id_col)).alias("comp"),
        )
    )
    w = dsir_weights(docs, target_pred, id_col, text_col, n_buckets, fp_scale)
    j = full.join(w.select(id_col, "weight_fp"), id_col)
    members_w = Window.partitionBy("comp")
    rank_w = Window.partitionBy("comp").orderBy(
        F.col("weight_fp").desc(), F.col(id_col).asc()
    )
    return (
        j.withColumn(
            "n_members", F.count(F.lit(1)).over(members_w).cast("bigint")
        )
        .withColumn("__rn", F.row_number().over(rank_w))
        .filter(F.col("__rn") == 1)
        .select("comp", id_col, "weight_fp", "n_members")
    )


# =====================================================================
# Learned quality classifier — closed-form Naive-Bayes log-odds
# =====================================================================


def nb_log_odds(
    docs: DataFrame,
    label_pred: Column,
    text_col: str = "text",
    n_buckets: int = 128,
    fp_scale: int = FP_SCALE,
) -> DataFrame:
    """Closed-form Naive-Bayes log-odds TRAINING pass — the learned
    quality-classifier rung the DCLM / FineWeb-Edu recipes put
    between the heuristic gates and selection (fastText-style binary
    quality model; Li et al. 2024, Penedo et al. 2024), trained
    entirely in-engine by ONE corpus scan: hashed unigram+bigram
    features (the DSIR feature stream, :func:`_hashed_features`),
    per-bucket positive/negative counts as a conditional sum inside
    the same vocab-sized map-side-combinable groupBy, and per-bucket

        w(b) = ln( p̂(b | pos) / p̂(b | neg) )

    with add-half smoothing as the SAME fixed expression tree as
    :func:`ratio_table` (reused verbatim — NB log-odds IS the DSIR
    ratio with the pool split into the two classes), ln rounded to a
    1e-6 fixed-point BIGINT per BUCKET so every per-document sum
    downstream is exact integer addition in any order (the corpus ln
    rule). Returns (bucket, c_pos, c_neg, w_fp) — exactly
    ``n_buckets`` rows (the count table is densified to the full
    bucket range with zero counts before smoothing, like the
    multiclass class×bucket grid, so a held-out ``train=`` sample in
    :func:`nb_classify` still scores every feature of the wider
    pool: an unseen bucket contributes its smoothed zero-count
    log-odds instead of being dropped by the weight join),
    broadcastable at any corpus size. The fixed-weight counterpart
    (weights as plan constants) is quality.hashed_linear_score; this
    is the TRAINED form."""
    spark = docs.sparkSession
    feat = docs.select(
        label_pred.alias("__is_p"),
        F.explode(_hashed_features(F.col(text_col), n_buckets)).alias(
            "bucket"
        ),
    )
    counts = feat.groupBy("bucket").agg(
        F.sum(F.when(F.col("__is_p"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_target"),
        F.sum(F.when(F.col("__is_p"), 0).otherwise(1))
        .cast("bigint")
        .alias("c_raw"),
    )
    dense = densify_counts(counts, n_buckets, spark)
    return ratio_table(dense, n_buckets, fp_scale).select(
        "bucket",
        F.col("c_target").alias("c_pos"),
        F.col("c_raw").alias("c_neg"),
        "w_fp",
    )


def densify_counts(
    counts: DataFrame, n_buckets: int, spark=None
) -> DataFrame:
    """Densify a (bucket, c_target, c_raw) count table to the full
    bucket range with zero counts (which smooth to the unseen-bucket
    weight in :func:`ratio_table`'s fixed tree) — the stage of
    :func:`nb_log_odds` an incremental pipeline (t44: SUM-merged
    train-half partials) replays on merged counts."""
    spark = spark or counts.sparkSession
    grid = spark.range(n_buckets).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    return grid.join(counts, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("c_target"), F.lit(0))
        .cast("bigint")
        .alias("c_target"),
        F.coalesce(F.col("c_raw"), F.lit(0)).cast("bigint").alias("c_raw"),
    )


def nb_prior(
    docs: DataFrame, label_pred: Column, fp_scale: int = FP_SCALE
) -> DataFrame:
    """Document-level class prior ln(P̂(pos)/P̂(neg)) as a 1-row
    (n_pos, n_neg, prior_fp) table — add-half smoothed via the
    doubling trick ((2·n_pos+1)/(2·n_neg+1), one division of exact
    integers), ln rounded to the fixed point per the corpus ln
    rule. Broadcast-joined onto every margin."""
    agg = docs.agg(
        F.sum(F.when(label_pred, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(label_pred, 0).otherwise(1))
        .cast("bigint")
        .alias("n_neg"),
    )
    return prior_counts_to_fp(agg, fp_scale)


def prior_counts_to_fp(
    agg: DataFrame, fp_scale: int = FP_SCALE
) -> DataFrame:
    """The counts→prior stage of :func:`nb_prior`, split out so an
    INCREMENTAL pipeline (t41: per-batch 1-row label-count partials,
    SUM-merged) feeds the identical fixed expression tree — one
    division of exact integers, ln to the fixed point. Input:
    1 row of (n_pos, n_neg)."""
    pr = (2 * F.col("n_pos") + 1).cast("double") / (
        2 * F.col("n_neg") + 1
    ).cast("double")
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(F.log(pr) * fp_scale, 0).cast("bigint").alias("prior_fp"),
    )


def nb_classify(
    docs: DataFrame,
    label_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    fp_scale: int = FP_SCALE,
    threshold_fp: int = 0,
    train: DataFrame | None = None,
) -> DataFrame:
    """NB inference over every document: margin_fp = prior_fp +
    Σ_features w_fp(bucket(f)) — an exact BIGINT — and the threshold
    gate ``keep = margin_fp >= threshold_fp``. ``train`` defaults to
    ``docs`` (weak-label self-training, the DCLM shape: the label
    predicate encodes the curated-vs-crawl split); pass a labeled
    sample to train small and score everything — either way the
    learned artifacts are one ≤``n_buckets``-row table plus one
    1-row prior, both broadcast, so the only document-keyed shuffle
    carries (id, two longs). Returns (id_col, n_feats, evidence_fp,
    margin_fp, keep) — ``evidence_fp`` is the prior-free Σ w_fp
    (≥ 0 ⇔ the document's tokens lean positive regardless of the
    class base rate; the gate composed pipelines want when the
    positive class is a minority)."""
    tr = docs if train is None else train
    pri = nb_prior(tr, label_pred, fp_scale)
    margin = F.col("__sw") + F.col("prior_fp")
    if train is None:
        # Self-training (weak-label) case: the scored pool IS the
        # training pool, so the old form tokenized the corpus TWICE —
        # once inside nb_log_odds for the bucket counts, once for the
        # scoring stream. One featurize pass (r14, guide §2.4): a
        # pinned (id, label, bucket, n) doc-bucket table feeds both
        # the class counts (Σn by bucket and label) and the
        # per-document sums (Σ n·w_fp) — exact integer sums, results
        # bit-identical to the two-pass form (the plans/curation.py
        # artifact).
        spark = docs.sparkSession
        dbc = pin(
            docs.select(
                F.col(id_col),
                label_pred.alias("__is_p"),
                F.explode(
                    _hashed_features(F.col(text_col), n_buckets)
                ).alias("bucket"),
            )
            .groupBy(id_col, "__is_p", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        )
        counts = dbc.groupBy("bucket").agg(
            F.sum(F.when(F.col("__is_p"), F.col("__n")).otherwise(0))
            .cast("bigint")
            .alias("c_target"),
            F.sum(F.when(F.col("__is_p"), 0).otherwise(F.col("__n")))
            .cast("bigint")
            .alias("c_raw"),
        )
        dense = densify_counts(counts, n_buckets, spark)
        w = ratio_table(dense, n_buckets, fp_scale)
        scored = (
            dbc.join(F.broadcast(w.select("bucket", "w_fp")), "bucket")
            .groupBy(id_col)
            .agg(
                F.sum("__n").cast("bigint").alias("n_feats"),
                F.sum(F.col("__n") * F.col("w_fp")).alias("__sw"),
            )
        )
    else:
        w = nb_log_odds(tr, label_pred, text_col, n_buckets, fp_scale)
        feat = docs.select(
            F.col(id_col),
            F.explode(_hashed_features(F.col(text_col), n_buckets)).alias(
                "bucket"
            ),
        )
        scored = (
            feat.join(F.broadcast(w.select("bucket", "w_fp")), "bucket")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_feats"),
                F.sum("w_fp").alias("__sw"),
            )
        )
    return (
        scored.crossJoin(F.broadcast(pri.select("prior_fp")))
        .select(
            id_col,
            "n_feats",
            F.col("__sw").cast("bigint").alias("evidence_fp"),
            margin.cast("bigint").alias("margin_fp"),
            (margin >= F.lit(int(threshold_fp))).alias("keep"),
        )
    )


def nb_multiclass_classify(
    docs: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    fp_scale: int = FP_SCALE,
    train_pred: Column | None = None,
) -> DataFrame:
    """LEARNED language-ID — multiclass Naive Bayes over the hashed
    unigram+bigram feature stream (the trained counterpart of the
    heuristic x4_lang_id, and the multiclass sibling of
    :func:`nb_classify`): per-class per-bucket log-likelihoods

        w(b, c) = ln( (2·count(b|c)+1) / (2·N_c + B) )

    with add-half smoothing over the DENSE class×bucket grid (a
    feature bucket UNSEEN in class c must still contribute its
    zero-count penalty — the grid is |classes|·n_buckets rows, so
    densifying is free and the whole weight table broadcasts), plus
    a smoothed document-count class prior; every per-(doc, class)
    score is an exact BIGINT Σ n·w_fp + prior_fp under the corpus
    ln→fixed-point rule, and the prediction is the (score desc,
    class asc) argmax — 5 rows per document through the ranking
    window, never a global sort. Trains on the ``train_pred`` rows
    (unit-hash half in the corpus entry, so held-out docs are
    genuinely predicted, not memorized), scores ALL docs. Returns
    (id_col, pred_<label>, score_fp, n_feats)."""
    spark = docs.sparkSession
    tr = docs.filter(train_pred) if train_pred is not None else docs
    # ONE featurize pass (r14, guide §2.4): the training rows are a
    # subset of the scored pool, so the old form tokenized+hashed the
    # train half twice (class counts) on top of the full-pool scoring
    # pass. A pinned (id, label, is_train, bucket, n) doc-bucket table
    # now feeds BOTH the class×bucket counts (Σn over train rows) and
    # the per-(doc, class) scores (Σ n·w_fp) — exact integer sums,
    # bit-identical to the two-pass form (the plans/curation.py
    # artifact).
    tr_flag = train_pred if train_pred is not None else F.lit(True)
    dbc = pin(
        docs.select(
            F.col(id_col),
            F.col(label_col).alias("__lbl"),
            tr_flag.alias("__tr"),
            F.explode(_hashed_features(F.col(text_col), n_buckets)).alias(
                "bucket"
            ),
        )
        .groupBy(id_col, "__lbl", "__tr", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    cc = (
        dbc.filter(F.col("__tr"))
        .groupBy(F.col("__lbl").alias("__cls"), "bucket")
        .agg(F.sum("n").cast("bigint").alias("c_bc"))
    )
    nc = cc.groupBy("__cls").agg(F.sum("c_bc").cast("bigint").alias("__nc"))
    grid = nc.crossJoin(
        spark.range(n_buckets).select(F.col("id").cast("bigint").alias("bucket"))
    )
    dense = grid.join(cc, ["__cls", "bucket"], "left").select(
        "__cls",
        "bucket",
        F.coalesce(F.col("c_bc"), F.lit(0)).cast("bigint").alias("c_bc"),
        "__nc",
    )
    b = F.lit(int(n_buckets)).cast("bigint")
    p = (2 * F.col("c_bc") + 1).cast("double") / (
        2 * F.col("__nc") + b
    ).cast("double")
    wts = dense.select(
        "__cls",
        "bucket",
        F.round(F.log(p) * fp_scale, 0).cast("bigint").alias("w_fp"),
    )
    dcounts = tr.groupBy(F.col(label_col).alias("__cls")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__dc")
    )
    dtot = dcounts.agg(
        F.sum("__dc").cast("bigint").alias("__dt"),
        F.count(F.lit(1)).cast("bigint").alias("__k"),
    )
    pp = (2 * F.col("__dc") + 1).cast("double") / (
        2 * F.col("__dt") + F.col("__k")
    ).cast("double")
    priors = dcounts.crossJoin(F.broadcast(dtot)).select(
        "__cls",
        F.round(F.log(pp) * fp_scale, 0).cast("bigint").alias("prior_fp"),
    )
    scores = (
        dbc.join(F.broadcast(wts), "bucket")
        .groupBy(id_col, "__cls")
        .agg(
            F.sum(F.col("n") * F.col("w_fp")).alias("__s"),
            F.sum("n").cast("bigint").alias("n_feats"),
        )
        .join(F.broadcast(priors), "__cls")
        .select(
            id_col,
            "__cls",
            "n_feats",
            (F.col("__s") + F.col("prior_fp")).cast("bigint").alias(
                "score_fp"
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_fp").desc(), F.col("__cls").asc()
    )
    return (
        scores.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("__cls").alias(f"pred_{label_col}"),
            "score_fp",
            "n_feats",
        )
    )


# Default calibration grid spanning the NB margin distribution at the
# test SFs; the top rows keep nothing, deliberately pinning the
# zero-denominator sentinel path.
DEFAULT_GATE_THRESHOLDS: tuple[int, ...] = (
    -4_000_000, -3_000_000, -2_000_000, -1_000_000,
    0, 1_000_000, 2_000_000,
)


def nb_gate_sweep(
    docs: DataFrame,
    label_pred: Column,
    train_pred: Column,
    thresholds_fp: Sequence[int] = DEFAULT_GATE_THRESHOLDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    fp_scale: int = FP_SCALE,
) -> DataFrame:
    """Threshold CALIBRATION SWEEP for the learned NB quality gate —
    the tuning table a curation run reads before picking
    ``threshold_fp`` (the x3_pq_distortion_sweep pattern applied to
    the classifier rung): train :func:`nb_classify` on the
    ``train_pred`` rows, score the HELD-OUT complement (genuinely
    predicted, not memorized — and, with the densified weight table,
    held-out feature buckets unseen in training score exactly), and
    for every candidate threshold report the exact integer confusion
    counts against the weak label plus parts-per-million rates from
    exact integer division (−1 sentinel where the denominator is 0 —
    never a float boundary, never a NULL-dtype wobble).

    One plan: margins are computed ONCE; the ≤len(thresholds)-row
    grid replicates each margin row (linear in the held-out count,
    map-side combinable down to one row per threshold per partition),
    so the sweep costs one extra narrow shuffle over the single-gate
    entry regardless of corpus size. Returns one row per threshold:
    (threshold_fp, n_scored, n_pos, n_kept, tp, fp, fn, tn,
    precision_ppm, recall_ppm, kept_ppm)."""
    tr = docs.filter(train_pred)
    heldout = docs.filter(~train_pred)
    labels = heldout.select(F.col(id_col), label_pred.alias("__is_p"))
    margins = nb_classify(
        heldout, label_pred, id_col, text_col, n_buckets, fp_scale,
        train=tr,
    ).select(id_col, "margin_fp")
    return gate_sweep_from_margins(
        margins.join(labels, id_col), thresholds_fp
    )


def gate_sweep_from_margins(
    scored: DataFrame,
    thresholds_fp: Sequence[int] = DEFAULT_GATE_THRESHOLDS,
) -> DataFrame:
    """The margins→table stage of :func:`nb_gate_sweep`, split out so
    an INCREMENTAL pipeline (t44: SUM-merged train-half class/label
    partials serve margins through the shared ratio_table /
    prior_counts_to_fp trees) feeds the IDENTICAL grid-replication +
    confusion aggregation. Input: (margin_fp, __is_p) rows — one per
    held-out document."""
    grid = F.explode(
        F.array(
            *[F.lit(int(t)).cast("bigint") for t in thresholds_fp]
        )
    ).alias("threshold_fp")
    rep = scored.select("margin_fp", "__is_p", grid)
    keep = F.col("margin_fp") >= F.col("threshold_fp")
    pos = F.col("__is_p")

    def _n(pred) -> Column:
        return F.sum(F.when(pred, 1).otherwise(0)).cast("bigint")

    agg = rep.groupBy("threshold_fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        _n(pos).alias("n_pos"),
        _n(keep).alias("n_kept"),
        _n(keep & pos).alias("tp"),
        _n(keep & ~pos).alias("fp"),
        _n(~keep & pos).alias("fn"),
        _n(~keep & ~pos).alias("tn"),
    )

    def _ppm(num: str, den: str) -> Column:
        return (
            F.when(
                F.col(den) > 0,
                F.expr(f"(1000000 * {num}) div {den}"),
            )
            .otherwise(F.lit(-1))
            .cast("bigint")
        )

    return agg.select(
        "threshold_fp", "n_scored", "n_pos", "n_kept",
        "tp", "fp", "fn", "tn",
        _ppm("tp", "n_kept").alias("precision_ppm"),
        _ppm("tp", "n_pos").alias("recall_ppm"),
        _ppm("n_kept", "n_scored").alias("kept_ppm"),
    )
