"""Deduplication operators — north-star X1/X2 (SURVEY.md §2.11).

Closes the reference's claimed-but-unimplemented dedup (README.MD:70,
absent from fire_risk_processor.py — SURVEY.md §4.3) and extends it
to the near-duplicate family a 100 TB training-data pipeline needs:

  exact          — hash-groupBy on content (or sha2 content key)
  minhash + LSH  — shingle → k minhashes → bands → bucket equi-join
  simhash        — 64-bit sign-aggregated token hashes, hamming refine
  n-gram Jaccard — exact set overlap (the refine stage / oracle truth)

Scale: every candidate-generation step is an equi-join on a computed
key (band hash / simhash prefix), never a cross product; the exact
Jaccard/hamming check runs only on bucket-mates. Skewed buckets
(boilerplate shingles) are bounded by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.functions.text import word_shingles
from eco_pulse_lakehouse_spark.session import pin


# --- exact ----------------------------------------------------------------


def exact_dedup(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """X1 — keep the lowest-id row per exact content. Deterministic
    (dropDuplicates keeps an arbitrary row; a ranking window does not).
    """
    w = Window.partitionBy(*content_cols).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def content_key(cols: list[Column]) -> Column:
    """sha256 content fingerprint — the groupBy key when content is
    wide (hash once, shuffle 32 bytes instead of the payload)."""
    return F.sha2(F.concat_ws("", *cols), 256)


# --- minhash --------------------------------------------------------------

_P31 = (1 << 31) - 1  # Mersenne prime 2^31-1: the minhash value domain
_POLY_P = 1_000_000_007
_POLY_P2 = 998_244_353


def poly_token_hash(
    tok: Column, mult: int = 131, mod: int = _POLY_P
) -> Column:
    """SQL-REPLAYABLE per-token hash: a left fold over the token's
    characters, ``h -> (h*mult + codepoint) mod mod`` (~30-bit
    output). Weaker mixing than xxhash64 (the default hot path) but
    computable bit-for-bit in any engine — DuckDB replays it with
    ``list_reduce(list_prepend(0, list_transform(string_split(tok,
    ''), c -> greatest(unicode(c), 0))), ...)`` — which is what lets
    the minhash/simhash corpus entries carry HARD oracles instead of
    rows-only checks (round 5; engine agreement incl. the
    empty-string edge verified: Spark ascii('')=0 vs DuckDB
    unicode('')=-1, hence the greatest() guard)."""
    return F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("bigint"),
        lambda h, c: F.pmod(h * F.lit(mult) + F.ascii(c), F.lit(mod)),
    )


def poly_token_hash64(tok: Column) -> Column:
    """~61-bit SQL-replayable token hash: two independent char folds
    combined as ``h1 * 2^31 + h2`` (bits 61-63 always zero — the
    simhash consumer treats them as structurally-dead bits)."""
    return poly_token_hash(tok, 131, _POLY_P) * F.lit(1 << 31).cast(
        "bigint"
    ) + poly_token_hash(tok, 137, _POLY_P2)


def shingle_hashes(
    text: Column, n: int = 3, token_hash=None
) -> Column:
    """Hashes of word n-grams WITHOUT building shingle strings:
    token-hash array once, then a rolling polynomial combine over
    n shifted slices — ``h(sᵢ) = ((xh(tᵢ)·67 + xh(tᵢ₊₁))·67 + xh(tᵢ₊₂))
    mod (2^31-1)``. Building the concatenated strings dominated the
    minhash profile (~60%); this form needs only integer zip_with.
    All intermediates < 2^38 — ANSI-safe.

    ``token_hash``: optional Column-fn overriding the per-token hash
    (default xxhash64 mod 2^31-1 — fastest; pass
    :func:`poly_token_hash` for the SQL-replayable variant the
    oracle-backed corpus entries use). Must return values < 2^31.
    """
    from eco_pulse_lakehouse_spark.functions.text import tokens

    toks = tokens(text)
    if token_hash is None:
        th = F.transform(
            toks, lambda t: F.pmod(F.xxhash64(t), F.lit(_P31))
        )
    else:
        # exactly-one-arg lambda: pyspark infers HOF arity from the
        # callable's signature, so default-arg helpers must be wrapped
        th = F.transform(toks, lambda t: token_hash(t))
    m = F.size(toks) - F.lit(n - 1)  # number of shingles
    rolled = F.slice(th, 1, m)
    for off in range(1, n):
        nxt = F.slice(th, off + 1, m)
        rolled = F.zip_with(
            rolled, nxt, lambda a, b: F.pmod(a * F.lit(67) + b, F.lit(_P31))
        )
    return F.when(F.size(toks) >= n, rolled).otherwise(
        F.array().cast("array<bigint>")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    token_hash=None,
) -> DataFrame:
    """Per-doc minhash signature: sig[i] = min over shingles of h_i(s),
    with h_i an affine reshuffle of ONE base string hash:
    ``h_i(s) = ((2i+1)·H0(s) + 12289·i + 1) mod (2^31-1)``,
    ``H0(s) = xxhash64(s) mod (2^31-1)``.

    Shape: explode(shingles) → hash once per (doc, shingle) in a
    codegen'd projection → ``num_hashes`` partial MIN aggregates →
    one shuffle of (doc_id, 32 partial mins). This beats the
    no-shuffle higher-order-function form ~3x locally (HOF lambdas
    are interpreted, not codegen'd, and re-evaluate the string hash
    per hash function) and is the shape that scales: the shuffle
    carries one short row per doc regardless of document size.

    Coefficients keep every intermediate < 2^38 — no overflow under
    ANSI mode. Docs too short for a single shingle produce no rows.
    """
    ex = docs.select(
        F.col(id_col),
        F.explode(
            shingle_hashes(F.col(text_col), shingle_n, token_hash)
        ).alias("__h0"),
    )
    aggs = [
        F.min(
            F.pmod(
                F.col("__h0") * F.lit(2 * i + 1) + F.lit(12289 * i + 1),
                F.lit(_P31),
            )
        ).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    return (
        ex.groupBy(id_col)
        .agg(*aggs)
        .select(
            id_col,
            F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias(
                "minhash"
            ),
        )
    )


def minhash_bands(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    token_hash=None,
) -> DataFrame:
    """The banded-LSH INDEX rows: (id, band, bh) — one row per band
    per doc. Deterministic in the content alone (plan-constant hash
    coefficients), so index rows computed in different jobs, batches,
    or engines agree exactly — what makes the index incrementally
    maintainable (t18: per-batch partials appended at ingest, joined
    later) rather than rebuild-only."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        docs, id_col, text_col, num_hashes, shingle_n, token_hash
    )
    # bands is a small constant -> build the band array explicitly
    # (explode of a literal array, one row per band per doc)
    band_structs = []
    for b in range(bands):
        chunk = F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band)
        chunk_str = F.concat_ws(",", *[
            F.element_at(chunk, j + 1).cast("string")
            for j in range(rows_per_band)
        ])
        # Default path compresses the chunk to a fixed 8-byte shuffle
        # key via xxhash64. On the oracle-replayable poly-hash path
        # (token_hash given) the chunk STRING itself is the key, so
        # the Spark join key is structurally identical to the DuckDB
        # oracle's chunk join — a band-hash collision between distinct
        # chunks can never produce a Spark-only pair (ADVICE r05).
        bh = F.xxhash64(chunk_str) if token_hash is None else chunk_str
        band_structs.append(
            F.struct(F.lit(b).alias("band"), bh.alias("bh"))
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bs")
    ).select(
        id_col, F.col("bs.band").alias("band"), F.col("bs.bh").alias("bh")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    token_hash=None,
) -> DataFrame:
    """X2 — candidate near-dup pairs via banded LSH.

    Signature is split into ``bands`` bands of ``num_hashes//bands``
    rows; docs sharing any band hash become a candidate pair. The
    band table is exploded (|docs| x bands rows), self-equi-joined on
    (band_idx, band_hash) — a shuffle join on a 16-byte key, the
    100 TB-safe shape — then pairs are deduped.

    Returns (id_a, id_b) with id_a < id_b.
    """
    # Pin the band table before the self-join: the two sides project
    # different aliases BELOW the exchange, so Spark does not plan a
    # ReusedExchange and the whole shingle→signature→band pipeline
    # ran twice unpinned (measured 2.13 → 1.75 s at sf0.1, identical
    # output — the shared-build pin discipline).
    banded = minhash_bands(
        docs, id_col, text_col, num_hashes, bands, shingle_n, token_hash
    ).transform(pin)

    a = banded.select(F.col(id_col).alias("id_a"), "band", "bh")
    b_ = banded.select(F.col(id_col).alias("id_b"), "band", "bh")
    return (
        a.join(b_, on=["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# --- simhash --------------------------------------------------------------


def simhash(text_col: Column, bits: int = 64) -> Column:
    """SimHash over tokens: bit j of the fingerprint is the sign of
    Σ_tokens (±1 by token-hash bit j). Built-in expressions only.

    The shift amount of shiftright/shiftleft must be a Python int, so
    the bit loop is driver-side (bits is a small constant); per-bit
    sums are one aggregate over the token array each — no UDF, no
    shuffle, embarrassingly parallel per row."""
    from eco_pulse_lakehouse_spark.functions.text import tokens

    toks = tokens(text_col)
    out = F.lit(0).cast("long")
    for j in range(bits):
        # bit j as a sign-safe mask literal (j=63 is the sign bit of a
        # two's-complement long → negative literal)
        mask = (1 << j) if j < 63 else -(1 << 63)
        def _merge(m):
            # pyspark inspects lambda arity: keep exactly (acc, w)
            return lambda acc, w: acc + F.when(
                F.xxhash64(w).bitwiseAND(F.lit(m)) != 0, 1
            ).otherwise(-1)

        s_j = F.aggregate(toks, F.lit(0), _merge(mask))
        out = out.bitwiseOR(
            F.when(s_j > 0, F.lit(mask).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return out


def simhash_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """Per-doc 64-bit simhash via the same shape that won for minhash:
    explode tokens → ONE codegen'd xxhash64 projection → ``bits``
    conditional-SUM partial aggregates → sign-pack into a long.

    The Column-form :func:`simhash` computes the same fingerprint with
    64 interpreted ``F.aggregate`` passes over the token array (HOF
    lambdas are interpreted and re-hash the token per bit) — kept as
    the semantic reference; this is the fast path
    (tests/test_northstar.py pins bit-equality between the two).

    Scale: the shuffle carries one row of 64 ints per doc regardless
    of document length; partial aggregation sums token contributions
    map-side. Docs with zero tokens get fingerprint 0 (the empty sum
    is non-positive for every bit), matching the Column form.
    """
    from eco_pulse_lakehouse_spark.functions.text import tokens

    th = (
        (lambda t: F.xxhash64(t)) if token_hash is None else token_hash
    )
    ex = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__t")
    ).select(id_col, th(F.col("__t")).alias("__h"))
    masks = [(1 << j) if j < 63 else -(1 << 63) for j in range(bits)]
    aggs = [
        F.sum(
            F.when(F.col("__h").bitwiseAND(F.lit(m)) != 0, 1).otherwise(-1)
        ).alias(f"__s{j}")
        for j, m in enumerate(masks)
    ]
    packed = F.lit(0).cast("long")
    for j, m in enumerate(masks):
        packed = packed.bitwiseOR(
            F.when(F.col(f"__s{j}") > 0, F.lit(m).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    sigs = ex.groupBy(id_col).agg(*aggs).select(id_col, packed.alias("sh"))
    return (
        docs.select(id_col)
        .join(sigs, id_col, "left")
        .fillna({"sh": 0})
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    prefix_bits: int = 16,
    token_hash=None,
) -> DataFrame:
    """X2 — simhash near-dup candidates, bucketed by the high
    ``prefix_bits`` of the fingerprint (cheap LSH: near-dups usually
    share the prefix), refined by exact Hamming distance."""
    s = simhash_signatures(docs, id_col, text_col, token_hash=token_hash)
    s = s.withColumn("bucket", F.shiftrightunsigned("sh", 64 - prefix_bits))
    a = s.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), "bucket")
    b = s.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- exact n-gram Jaccard -------------------------------------------------


def _shingle_pair_counts(
    docs: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """Shared inverted-index pair machinery for the exact set-overlap
    measures (Jaccard / containment): distinct shingle sets, per-doc
    set sizes, shingle equi-join, per-pair intersection counts joined
    back with both sizes. Returns (id_a < id_b, __inter, __sa, __sb);
    pairs sharing zero shingles never materialize.

    The shingle table is PINNED before fanning out (the
    bounded_winnowing/PPJoin/postings discipline): three subplans consume it — the inverted-index
    explode and both per-doc size lookups — and each re-tokenized +
    re-shingled the corpus unpinned. Measured at sf0.1 (cold noop
    medians): 10.9 s → 3.8 s, identical output."""
    sh = docs.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
    ).transform(pin)
    sizes = sh.select("__id", F.size("sh").alias("__sz"))
    inv = sh.select("__id", F.explode("sh").alias("__s"))
    a = inv.select(F.col("__id").alias("id_a"), "__s")
    b = inv.select(F.col("__id").alias("id_b"), "__s")
    shared = (
        a.join(b, "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        shared.join(
            sizes.withColumnRenamed("__id", "id_a").withColumnRenamed(
                "__sz", "__sa"
            ),
            "id_a",
        ).join(
            sizes.withColumnRenamed("__id", "id_b").withColumnRenamed(
                "__sz", "__sb"
            ),
            "id_b",
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """X2 ground truth — EXACT Jaccard over distinct word n-grams for
    all pairs (id_a < id_b) meeting the threshold.

    Implemented as an inverted-index self-join, not a cross join:
    explode (doc, shingle), equi-join on the shingle, count shared
    shingles per pair, derive |union| = |A| + |B| - |∩| from per-doc
    set sizes. Pairs sharing zero shingles never materialize — and
    they can't pass any threshold > 0, so the output is identical to
    the naive all-pairs form (the DuckDB oracle IS that naive form).
    Locally 285s → ~5s at sf0.1; at scale the shuffle is on the
    shingle key (skew from boilerplate shingles handled by AQE).
    """
    with_sizes = _shingle_pair_counts(docs, id_col, text_col, shingle_n)
    union = F.col("__sa") + F.col("__sb") - F.col("__inter")
    return (
        with_sizes.withColumn(
            "jaccard", F.col("__inter").cast("double") / union
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _neighbor_candidates(
    docs: DataFrame,
    id_col: str,
    order_by: list,
    window: int,
) -> DataFrame:
    """Sliding-window neighbor pairs under a total order, distributed.

    Positions come from operators/rank.py:global_row_number (range
    shuffle + per-partition local window — no single-reducer stage);
    the (row, row+i) neighbor relation for i in 1..window-1 is then an
    integer equi-join on position, which hash-shuffles on a BIGINT and
    scales with the data. Emits unordered pairs (id_a < id_b)."""
    from eco_pulse_lakehouse_spark.operators.rank import global_row_number

    ranked = global_row_number(docs, order_by, out_col="__pos")
    ids = ranked.select(F.col(id_col), "__pos")
    offsets = F.array(*[F.lit(i) for i in range(1, window)])
    left = (
        ids.select(F.col(id_col).alias("__src"), "__pos")
        .withColumn("__off", F.explode(offsets))
        .select(
            "__src", (F.col("__pos") + F.col("__off")).alias("__pos2")
        )
    )
    right = ids.select(
        F.col(id_col).alias("__dst"), F.col("__pos").alias("__pos2")
    )
    return left.join(right, "__pos2").select(
        F.least("__src", "__dst").alias("id_a"),
        F.greatest("__src", "__dst").alias("id_b"),
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 4,
    jaccard_threshold: float = 0.2,
    shingle_n: int = 3,
) -> DataFrame:
    """Sorted-neighborhood (SNM) near-dup candidates (Hernández &
    Stolfo 1995): sort the corpus by a blocking key (here the text
    itself — near-identical prefixes sort adjacent), slide a window
    of ``window`` rows, refine candidate pairs with exact n-gram
    Jaccard. The classic alternative blocking family to hash-based
    LSH: catches prefix-similar pairs that hash bands can miss, costs
    ONE global sort + a lead() window instead of signature
    computation — and misses pairs whose difference is in the first
    characters (the known SNM trade-off; production multi-pass SNM
    re-sorts under rotated keys).

    Shape at scale: the sort is the two-pass range-partitioned global
    row_number from operators/rank.py (an empty-partition-spec window
    would move EVERY row to one task — round-2 ADVICE), neighbors are
    recovered by an integer equi-join on position offsets 1..window-1
    — candidates are O(n·window), refined by the same exact Jaccard
    as x2_ngram_jaccard. Returns (id_a, id_b, jaccard)."""
    from eco_pulse_lakehouse_spark.functions.text import word_shingles

    cand = _neighbor_candidates(
        docs, id_col, [F.col(text_col).asc(), F.col(id_col).asc()], window
    ).distinct()
    sh = docs.select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col(text_col), shingle_n)).alias(
            "__s"
        ),
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__s").alias("__sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__s").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(inter.cast("double") / union, 6),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def sorted_neighborhood_multipass(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 4,
    jaccard_threshold: float = 0.2,
    shingle_n: int = 3,
) -> DataFrame:
    """Production SNM: a second pass sorted under a ROTATED key (the
    reversed text — suffix-similar docs sort adjacent) unioned with
    the prefix pass, covering the single-pass blind spot (pairs whose
    difference is in the first characters). Each pass is the same
    sort+window shape; candidates union BEFORE the Jaccard refine so
    the refine runs once per distinct pair. Each pass uses the same
    range-partitioned global rank + offset equi-join as the
    single-pass form (no single-partition window stage)."""
    from eco_pulse_lakehouse_spark.functions.text import word_shingles

    cand = (
        _neighbor_candidates(
            docs, id_col, [F.col(text_col).asc(), F.col(id_col).asc()], window
        )
        .unionByName(
            _neighbor_candidates(
                docs,
                id_col,
                [F.reverse(F.col(text_col)).asc(), F.col(id_col).asc()],
                window,
            )
        )
        .distinct()
    )
    sh = docs.select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col(text_col), shingle_n)).alias("__s"),
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__s").alias("__sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__s").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(inter.cast("double") / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dup_shingle_fraction(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Cross-document duplicate n-gram PROFILE — per document, the
    fraction of its word-``n``-gram positions whose shingle also
    occurs in at least one OTHER document. The corpus-level signal
    behind exact-substring dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better") and RefinedWeb's
    duplicated-span filters: a high fraction means the document is
    largely assembled from text the corpus already contains
    (boilerplate, mirrors, templates) even when no single whole-doc
    near-dup exists — exactly the redundancy a training pipeline
    wants to down-weight before tokenization.

    Shape: posexplode the shingles (one row per position), compute
    each shingle's DISTINCT-document count as distinct (doc, shingle)
    pairs + count — two partial-agg shuffles, never the
    count-distinct expand — and hash-join it back onto the position
    stream. Inverted-index cost, never all-pairs. At 100 TB swap the
    shingle strings for shingle_hashes (integer rolling hashes, same
    module) so the join key is 8 bytes; the plan is unchanged.

    Documents shorter than ``n`` words have no shingles but are NOT
    dropped (round-3 advisor: posexplode of their empty array emits
    no rows, so they'd silently vanish from the profile and a
    consumer joining it back would lose rows): they appear with
    n_shingles = 0, n_dup = 0, dup_frac NULL via a left join back
    from the id spine."""
    from eco_pulse_lakehouse_spark.functions.text import word_shingles

    sh = docs.select(
        F.col(id_col),
        F.posexplode(word_shingles(F.col(text_col), n)).alias("pos", "s"),
    )
    docs_per = (
        sh.select(id_col, "s")
        .distinct()
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("__nd"))
    )
    prof = (
        sh.join(docs_per, "s")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("__nd") >= 2, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup"),
        )
        .withColumn("dup_frac", F.col("n_dup") / F.col("n_shingles"))
    )
    return (
        docs.select(id_col)
        .join(prof, id_col, "left")
        .withColumn(
            "n_shingles", F.coalesce("n_shingles", F.lit(0).cast("bigint"))
        )
        .withColumn("n_dup", F.coalesce("n_dup", F.lit(0).cast("bigint")))
    )


def dup_span_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    min_span_tokens: int = 15,
    min_docs: int = 2,
) -> DataFrame:
    """Exact SUBSTRING-level dedup (Lee et al. 2021 "ExactSubstr",
    approximated at word-n-gram granularity): REMOVE from every
    document each maximal run of tokens whose covering ``n``-grams
    all occur in at least ``min_docs`` distinct documents, when the
    run spans >= ``min_span_tokens`` tokens. This is the removal tier
    above :func:`dup_shingle_fraction`'s profiling — the suffix-array
    pass of the paper re-expressed as n-gram run detection so the
    whole pipeline stays relational (and SQL-replayable: positions
    are integers).

    Every duplicated occurrence is removed (the position test is
    "shingle occurs in >= min_docs docs", which is true for all its
    occurrences) — the conservative boilerplate-stripping variant;
    keep-one-copy would need a global occurrence ranking.

    Shape, all equi-joins and per-doc windows — never all-pairs:
      1. inverted shingle index -> distinct-doc counts (two partial
         aggs, no count-distinct expand) -> duplicated-shingle set;
      2. duplicated POSITIONS per doc -> maximal consecutive runs via
         gaps-and-islands (pos - row_number over the per-doc window);
      3. qualifying runs (token length b-a+n >= min_span_tokens)
         explode to covered token positions [a, b+n-1]; union via
         distinct absorbs overlapping covers from nearby runs;
      4. LEFT ANTI join the posexploded token stream against the
         removed set; rebuild surviving text with an order-
         insensitive sort_array(collect_list(struct)) fold.
    The per-doc window and the groupBys all cluster on the doc id —
    AQE coalesces them into the same partitioning; shingle-index
    shuffles carry (hash, count) rows, not documents. At 100 TB swap
    shingle strings for shingle_hashes (8-byte join keys), plan
    unchanged. Docs shorter than ``n`` tokens have no shingles and
    survive whole (left join from the doc spine)."""
    from eco_pulse_lakehouse_spark.functions.text import tokens

    toks = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("__tp", "__tok"),
    )
    sh = docs.select(
        F.col(id_col),
        F.posexplode(word_shingles(F.col(text_col), n)).alias("__p", "__s"),
    )
    dup_shingles = (
        sh.select(id_col, "__s")
        .distinct()
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__s")
    )
    dup_pos = sh.join(dup_shingles, "__s").select(id_col, "__p")
    w = Window.partitionBy(id_col).orderBy("__p")
    runs = (
        dup_pos.withColumn("__g", F.col("__p") - F.row_number().over(w))
        .groupBy(id_col, "__g")
        .agg(F.min("__p").alias("__a"), F.max("__p").alias("__b"))
        .filter(F.col("__b") - F.col("__a") + F.lit(n) >= min_span_tokens)
    )
    removed = runs.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("__a"), F.col("__b") + F.lit(n - 1))
        ).alias("__tp"),
    ).distinct()
    surviving = toks.join(removed, [id_col, "__tp"], "left_anti")
    rebuilt = surviving.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__tp", "__tok"))),
                lambda s: s.getField("__tok"),
            ),
        ).alias("__clean"),
    )
    base = docs.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    return base.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        (
            F.col("n_tokens")
            - F.coalesce(F.col("__n_kept"), F.lit(0)).cast("bigint")
        ).cast("bigint").alias("n_removed"),
        F.coalesce(F.col("__clean"), F.lit("")).alias("text_clean"),
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """X2 — exact n-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|) —
    the asymmetric near-dup measure. Jaccard misses doc-in-doc
    duplication (a short document quoted whole inside a long one has
    tiny |∩|/|∪| but containment 1.0) — exactly the quote/excerpt/
    aggregation-page redundancy a training corpus accumulates.
    Same inverted-index shape as :func:`ngram_jaccard_pairs` — both
    share :func:`_shingle_pair_counts`, only the denominator
    changes. Returns (id_a < id_b, containment)."""
    with_sizes = _shingle_pair_counts(docs, id_col, text_col, shingle_n)
    return (
        with_sizes.withColumn(
            "containment",
            F.col("__inter").cast("double")
            / F.least(F.col("__sa"), F.col("__sb")),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    token_hash=None,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003 — the MOSS algorithm): hash every word
    ``k``-gram, slide a window of ``w`` consecutive gram hashes, and
    keep each window's MINIMUM as a fingerprint. The winnowing
    guarantee: any shared run of at least ``w + k − 1`` tokens
    between two documents yields at least one shared fingerprint —
    a DETERMINISTIC detection floor, unlike MinHash's probabilistic
    recall — while storing only ~2/(w+1) of the gram hashes.

    Entirely row-local after tokenization: gram hashes come from
    :func:`shingle_hashes` (integer zip_with rolling combine — the
    minhash entries' SQL-replayable form when ``token_hash=
    poly_token_hash``), window minima are one array transform over
    slices. Documents with fewer than ``k`` tokens produce no
    fingerprints; with fewer than ``w`` grams, the single window is
    the whole gram list (the standard short-document convention).
    Returns exploded DISTINCT (id, fp) rows."""
    g = shingle_hashes(F.col(text_col), n=k, token_hash=token_hash)
    base = docs.select(F.col(id_col), g.alias("__g")).filter(
        F.size("__g") >= 1
    )
    n_win = F.greatest(F.size("__g") - F.lit(w - 1), F.lit(1))
    fps = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda j: F.array_min(F.slice(F.col("__g"), j, w)),
    )
    return base.select(
        F.col(id_col), F.explode(F.array_distinct(fps)).alias("fp")
    )


def winnowing_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    token_hash=None,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints:
    equi-join the (id, fp) index on the fingerprint value, count
    distinct shared fingerprints per pair, keep pairs with at least
    ``min_shared`` — the plagiarism-detection shape (MOSS) next to
    MinHash-LSH in the dedup ladder, with the deterministic
    ≥ w+k−1-token detection guarantee LSH can't give.

    Scale: the join is blocked on the fingerprint key (never
    all-pairs); fingerprint blocks are selective by construction
    (window minima), but a boilerplate k-gram shared corpus-wide
    still makes a hot block — the Σ|block|² hazard; cap with the
    w19/bounded_phonetic pattern if profiles show it. Returns
    (id_a < id_b, n_shared)."""
    # Pin the fingerprint index before the self-join (the aliases
    # differ below the exchange, so no ReusedExchange — the
    # tokenize+gram-hash+window-minima pipeline ran twice unpinned;
    # measured 4.5 → 2.8 s at sf0.1, identical output).
    fp = winnowing_fingerprints(
        docs, id_col, text_col, k, w, token_hash
    ).transform(pin)
    a = fp.select(F.col(id_col).alias("id_a"), "fp")
    b = fp.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def bounded_winnowing_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_block: int = 5,
    token_hash=None,
) -> DataFrame:
    """:func:`winnowing_pairs` with per-fingerprint block caps — the
    100 TB form when a boilerplate k-gram survives as a window
    minimum corpus-wide (the Σ|block|² hazard the plain form
    documents). Each overflowing fingerprint block keeps its first
    ``max_block`` rows under the deterministic (fp, id) total order;
    :func:`winnowing_block_overflow` surfaces exactly what the cap
    dropped (the no-silent-caps contract).

    Cap mechanics differ from bounded_phonetic_pairs on purpose: the
    fingerprint alphabet is INDEX-sized (one key per distinct
    fingerprint — a _cap_blocks offsets broadcast would be
    index-sized too), so the cap first identifies the overflowing
    fingerprints (a tiny table — hot blocks are the exception), lets
    every cold-block row pass untouched, and runs the distributed
    global rank only over the HOT subset, whose per-block offsets
    table is one row per hot fingerprint — always broadcastable.
    Deterministic, so the capped result is itself oracle-exact (the
    w19/x2_phonetic_bounded precedent)."""
    from eco_pulse_lakehouse_spark.operators.rank import global_row_number

    # Pin the fingerprint index before fanning out: three subplans
    # consume it (hot aggregation, left_anti cold pass, left_semi hot
    # pass) and would each recompute the tokenize + gram-hash +
    # explode pipeline otherwise (the postings/dbc pin discipline).
    fp = winnowing_fingerprints(
        docs, id_col, text_col, k, w, token_hash
    ).transform(pin)
    hot = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_block)
        .select("fp")
    )
    cold = fp.join(F.broadcast(hot), "fp", "left_anti")
    hot_rows = fp.join(F.broadcast(hot), "fp", "left_semi")
    ranked = global_row_number(
        hot_rows,
        [F.col("fp").asc(), F.col(id_col).asc()],
        out_col="__gpos",
    )
    firsts = ranked.groupBy("fp").agg(F.min("__gpos").alias("__first"))
    capped_hot = (
        ranked.join(F.broadcast(firsts), "fp")
        .filter(F.col("__gpos") - F.col("__first") < max_block)
        .select(id_col, "fp")
    )
    capped = cold.select(id_col, "fp").unionByName(capped_hot)
    a = capped.select(F.col(id_col).alias("id_a"), "fp")
    b = capped.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnowing_block_overflow(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    max_block: int = 5,
    token_hash=None,
) -> DataFrame:
    """No-silent-caps companion to :func:`bounded_winnowing_pairs`
    (the phonetic_block_overflow contract): per overflowing
    fingerprint, the rows dropped and the candidate pairs the full
    block would have cost — emit next to any capped run."""
    fp = winnowing_fingerprints(docs, id_col, text_col, k, w, token_hash)
    n = F.col("n_rows")
    return (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(n > max_block)
        .select(
            "fp",
            "n_rows",
            (n - max_block).alias("n_dropped_rows"),
            F.expr("n_rows * (n_rows - 1) div 2").alias("uncapped_pairs"),
        )
    )


def phonetic_code(name: Column) -> Column:
    """Simplified Soundex-style phonetic code of a name's FIRST
    token: initial letter + first 3 consonant-class digits
    (b/f/p/v→1, c/g/j/k/q/s/x/z→2, d/t→3, l→4, m/n→5, r→6; vowels
    and h/w/y drop; runs collapse), zero-padded to 4 chars.

    Deliberately RE2-SAFE (no backreferences — per-digit run
    collapses instead of '(.)\\1+'), so DuckDB's regexp engine
    replays it verbatim; Spark's regexp_replace is always-global,
    DuckDB's needs the 'g' flag. This is the blocking-key shape of
    entity resolution (names cluster by sound before an exact
    edit-distance refine), not a certified Soundex implementation —
    both engines compute THIS code identically, which is what the
    oracle needs."""
    w = F.lower(F.split(name, " ")[0])
    first = F.upper(F.substring(w, 1, 1))
    rest = F.substring(w, 2, 1_000_000)
    classes = [
        ("[bfpv]", "1"), ("[cgjkqsxz]", "2"), ("[dt]", "3"),
        ("l", "4"), ("[mn]", "5"), ("r", "6"), ("[aeiouhwy]", "0"),
    ]
    coded = rest
    for pat, rep in classes:
        coded = F.regexp_replace(coded, pat, rep)
    for d in "123456":
        coded = F.regexp_replace(coded, f"{d}{{2,}}", d)
    coded = F.regexp_replace(coded, "0", "")
    return F.concat(
        first, F.substring(F.concat(coded, F.lit("000")), 1, 3)
    )


def phonetic_blocking_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_edit: int = 2,
) -> DataFrame:
    """X2 — fuzzy-match candidate pairs via PHONETIC BLOCKING + exact
    edit-distance refine: rows sharing a phonetic block code of
    their name's first token become candidates (an equi-join on the
    4-char code — never all-pairs), then exact levenshtein ≤
    ``max_edit`` keeps real near-matches. Both stages are built-ins
    in Spark AND DuckDB (identical integer distances), so the whole
    pipeline is oracle-exact. The bare code draws from a tiny
    alphabet, so blocks grow linearly with data and candidate pairs
    quadratically — this operator is the code+refine SHAPE and the
    measured contrast; :func:`bounded_phonetic_pairs` is the
    100 TB-sanctioned form (composed key + deterministic per-block
    cap + overflow surfacing, the w19 pattern).

    Refine cost, MEASURED (round 6, sf0.1, 25M block pairs): the
    two "obvious" prunes both LOSE here and are deliberately not
    used — (a) the |len(a) − len(b)| <= max_edit necessary-condition
    filter prunes 0 of 25M pairs (block-mates have near-identical
    name lengths), pure overhead; (b) Spark's THRESHOLDED
    levenshtein(l, r, k) benched 2.1× SLOWER than the plain form
    (51.9 s vs 25.0 s — the banded DP's early-exit machinery only
    pays off when most pairs exceed the bound, and 4.67M of 25M
    pairs genuinely pass lev <= 3 on this vocabulary). The operator
    is candidate-volume-bound, so the real 100 TB lever is the
    composed blocking key above, not the per-pair DP."""
    keyed = df.select(
        F.col(id_col),
        F.col(name_col).alias("__nm"),
        phonetic_code(F.col(name_col)).alias("__pc"),
    )
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col("__nm").alias("__na"), "__pc"
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col("__nm").alias("__nb"), "__pc"
    )
    lev = F.levenshtein(F.col("__na"), F.col("__nb"))
    return (
        a.join(b, "__pc")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("lev", lev.cast("int"))
        .filter(F.col("lev") <= max_edit)
        .select("id_a", "id_b", "lev")
    )


def phonetic_block_key(name: Column, band_width: int = 4) -> Column:
    """COMPOSED bounded blocking key — the 100 TB form of
    :func:`phonetic_code` blocking (VERDICT r06 item 2): phonetic
    code of the first token + initial of the SECOND token + a name
    length band (``len // band_width``), ':'-joined.

    The bare 4-char code draws from a tiny alphabet (8 distinct
    codes over the whole part catalog), so bare-code blocks grow
    LINEARLY with data and candidate pairs quadratically — measured
    25M pairs / 27 s at sf0.1. Composing in the second-token initial
    and the length band multiplies the effective alphabet (52 blocks
    at sf0.1, 5.8× fewer candidate pairs) while keeping the key a
    pure per-row expression (no extra shuffle, no state). The
    trade-off is standard blocking recall: pairs that disagree on
    the added components are never considered — measured 83.5% of
    the bare-code lev<=3 survivors retained at sf0.1 (second-token
    initial), 75.1% with the length band too. Recall-critical users
    run multiple complementary passes (this + SNM + LSH — the
    multi-pass pattern test_blocking_families_are_complementary
    pins); every component is deterministic and replayed verbatim by
    the DuckDB oracle."""
    second = F.upper(
        F.substring(
            F.concat(
                F.coalesce(F.get(F.split(name, " "), 1), F.lit("")),
                F.lit(" "),
            ),
            1,
            1,
        )
    )
    band = F.floor(F.length(name) / F.lit(band_width)).cast("bigint")
    return F.concat(
        phonetic_code(name),
        F.lit(":"),
        second,
        F.lit(":"),
        band.cast("string"),
    )


def _cap_blocks(keyed: DataFrame, id_col: str, cap: int) -> DataFrame:
    """Keep each block's first ``cap`` rows under the deterministic
    total (``__bk``, ``__nm``, id) order. The rank is derived from
    the distributed GLOBAL row number minus a broadcast per-block
    offset (operators/rank.py:global_row_number — the composed-key
    block alphabet is small, so the offsets table always
    broadcasts), which avoids the single-task-per-block sort a plain
    partitionBy(block) row_number would cost on exactly the hot
    block the cap exists to guard."""
    from eco_pulse_lakehouse_spark.operators.rank import global_row_number

    ranked = global_row_number(
        keyed,
        [F.col("__bk").asc(), F.col("__nm").asc(), F.col(id_col).asc()],
        out_col="__gpos",
    )
    firsts = ranked.groupBy("__bk").agg(F.min("__gpos").alias("__first"))
    return (
        ranked.join(F.broadcast(firsts), "__bk")
        .filter(F.col("__gpos") - F.col("__first") < cap)
        .drop("__gpos", "__first")
    )


def bounded_phonetic_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_edit: int = 3,
    max_block: int | None = None,
    band_width: int = 4,
) -> DataFrame:
    """X2 — the BOUNDED form of :func:`phonetic_blocking_pairs`
    (VERDICT r06 item 2 — the one scale-killer left): candidates are
    pairs agreeing on the COMPOSED key (:func:`phonetic_block_key` —
    phonetic code + second-token initial + length band), optionally
    with each block capped at its first ``max_block`` rows under the
    deterministic (block, name, id) order, then the exact
    levenshtein <= ``max_edit`` refine. Both levers the
    entity-resolution literature prescribes for blocking at scale,
    in the repo's established no-silent-caps shape (the w19 /
    sax_bucket_overflow precedent): the cap is opt-in, deterministic
    (SQL row_number-replayable, so capped output is oracle-EXACT,
    not merely "fewer rows"), and :func:`phonetic_block_overflow`
    surfaces exactly what it dropped. With the composed key, block
    size is driven by the real key distribution instead of an
    8-letter code alphabet; with the cap, the worst block costs
    cap·(cap-1)/2 pairs no matter how the data grows — measured at
    sf0.1: 25M candidate pairs (bare code, 27.4 s) → 4.3M (composed
    key) → <=0.9M (cap 50)."""
    keyed = df.select(
        F.col(id_col),
        F.col(name_col).alias("__nm"),
        phonetic_block_key(F.col(name_col), band_width).alias("__bk"),
    )
    if max_block is not None:
        keyed = _cap_blocks(keyed, id_col, max_block)
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col("__nm").alias("__na"), "__bk"
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col("__nm").alias("__nb"), "__bk"
    )
    return (
        a.join(b, "__bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "lev", F.levenshtein(F.col("__na"), F.col("__nb")).cast("int")
        )
        .filter(F.col("lev") <= max_edit)
        .select("id_a", "id_b", "lev")
    )


def phonetic_block_overflow(
    df: DataFrame,
    name_col: str,
    max_block: int,
    band_width: int = 4,
) -> DataFrame:
    """The no-silent-caps companion to ``bounded_phonetic_pairs(...,
    max_block=N)`` (same contract as timeseries.sax_bucket_overflow):
    per overflowing composed block, how many rows the cap dropped
    and the candidate-pair count the full block would have cost. One
    tiny aggregation over the block keys; emit it next to any capped
    run so truncation is visible in the job's output."""
    n = F.col("n_rows")
    return (
        df.select(
            phonetic_block_key(F.col(name_col), band_width).alias("block_key")
        )
        .groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(n > max_block)
        .select(
            "block_key",
            "n_rows",
            (n - max_block).alias("n_dropped_rows"),
            # integer div: the double-division form loses exactness
            # past 2^53 pairs — exactly the hot-block regime this
            # reports on (the ahash_block_overflow ADVICE fix)
            F.expr("n_rows * (n_rows - 1) div 2").alias("uncapped_pairs"),
        )
    )


def doc_chunks(
    docs: DataFrame, id_col: str, text_col: str, chunk_tokens: int = 3
) -> DataFrame:
    """Non-overlapping ``chunk_tokens``-token chunks — the "line"
    unit for corpora whose text carries no newlines (the synthetic
    tables are single-space token streams; with real newline-bearing
    text swap this for split(text, '\\n')). Row-local: sequence →
    slice → posexplode, no shuffle. Returns (id, __cid, __chunk);
    the final chunk may be short, empty docs yield one '' chunk."""
    from eco_pulse_lakehouse_spark.functions.text import tokens

    toks = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
        ),
    )
    return docs.select(
        F.col(id_col), F.posexplode(chunks).alias("__cid", "__chunk")
    )


def line_dedup_keep_first(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 3,
    hash_key: bool = True,
) -> DataFrame:
    """CCNet-style LINE-level dedup with keep-one-copy semantics
    (Wenzek et al. 2020): every duplicated line keeps exactly its
    globally-FIRST occurrence — ordered by (doc, position) — and
    every later occurrence is removed. This is the keep-one-copy
    tier :func:`dup_span_removal`'s docstring defers ("would need a
    global occurrence ranking"): span removal strips ALL copies of
    cross-doc boilerplate; line dedup preserves one canonical copy,
    the semantics curation wants when the duplicated text is content
    rather than chrome. "Lines" here are :func:`doc_chunks` units.

    The global occurrence ranking that makes keep-first scale is NOT
    a global sort: rank occurrences within each line's hash group —
    ``min(struct(doc, pos))`` per line, one map-side-combinable
    groupBy on the line key — then mark an occurrence removed iff the
    line's group has >1 member and this occurrence is not the argmin.
    Shapes: one groupBy(line) carrying (line, min-struct, count), one
    equi-join back onto the chunk stream, one per-doc rebuild
    groupBy. With ``hash_key=True`` (the default — the 100 TB form)
    the groupBy/join key is the 8-byte ``xxhash64`` of the line, so
    the shuffle never carries the line text twice; collisions are
    handled VERIFY-ON-MATCH, same as minhash: an occurrence is
    removed only when its text EXACTLY equals the group argmin's
    text, so a 64-bit collision can only UNDER-remove, never delete
    distinct content. Precisely (ADVICE r08): when two distinct
    texts collide on one 64-bit key (~2⁻⁶⁴/pair), the text that is
    NOT the group argmin keeps EVERY occurrence — its own internal
    duplicates are not deduped at all for that key, not merely "one
    stray copy". Acceptable because the failure direction is
    under-removal only and the colliding texts themselves remain
    intact; ``hash_key=False`` removes even that case.
    ``hash_key=False`` keys on the raw text (the certified-equal
    reference form; pinned ≡ in tests).

    Returns (id_col, n_chunks, n_removed, text_clean) — text_clean
    rebuilt from surviving chunks in document order (docs whose every
    chunk was removed surface with text_clean = '', not dropped)."""
    ch = doc_chunks(docs, id_col, text_col, chunk_tokens)
    key = (
        F.xxhash64(F.col("__chunk")) if hash_key else F.col("__chunk")
    ).alias("__lk")
    occ = ch.select(F.col(id_col), "__cid", "__chunk", key)
    # Carry the argmin's chunk text in the min-struct for
    # verify-on-match; (id, cid) is unique so the trailing text
    # field never influences the ordering.
    first = occ.groupBy("__lk").agg(
        F.min(
            F.struct(F.col(id_col), F.col("__cid"), F.col("__chunk"))
        ).alias("__first")
    )
    is_argmin = (
        F.col("__first").getField(id_col) == F.col(id_col)
    ) & (F.col("__first").getField("__cid") == F.col("__cid"))
    keep = is_argmin | (
        F.col("__first").getField("__chunk") != F.col("__chunk")
    )
    kept = (
        occ.join(first, "__lk")
        .filter(keep)
        .select(id_col, "__cid", "__chunk")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__cid", "__chunk"))),
                lambda s: s.getField("__chunk"),
            ),
        ).alias("__clean"),
    )
    # n_chunks row-locally from the text (r13, guide §2.4): the old
    # groupBy over the exploded chunk stream re-ran the whole
    # doc_chunks explode a second time just to count rows. posexplode
    # emits exactly ceil(|tokens|/chunk_tokens) rows per non-null
    # text (>= 1 — '' tokenizes to ['']), and null-text docs emit
    # none, so the filter keeps the row set identical.
    from eco_pulse_lakehouse_spark.functions.text import tokens

    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.ceil(
            F.size(tokens(F.col(text_col))) / F.lit(float(chunk_tokens))
        ).cast("bigint").alias("n_chunks"),
    )
    return base.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.col("n_chunks"),
        (
            F.col("n_chunks")
            - F.coalesce(F.col("__n_kept"), F.lit(0)).cast("bigint")
        ).cast("bigint").alias("n_removed"),
        F.coalesce(F.col("__clean"), F.lit("")).alias("text_clean"),
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """X2 — exact Jaccard pairs ≥ ``threshold`` via PREFIX FILTERING
    (Chaudhuri et al. 2006; Bayardo et al. WWW'07 / PPJoin): index
    only each record's first ``|x| − ⌈t·|x|⌉ + 1`` shingles under the
    canonical rarest-first global order, instead of the FULL shingle
    set :func:`ngram_jaccard_pairs` inverts.

    Losslessness (the PPJoin prefix lemma): J(x,y) ≥ t ⟹ the overlap
    o ≥ ⌈t·|x|⌉ — so x's suffix of ⌈t·|x|⌉ − 1 shingles cannot hold
    all common shingles, and the SMALLEST common shingle under the
    global order lies in BOTH prefixes; the prefix-prefix equi-join
    finds every qualifying pair. The output is therefore IDENTICAL
    to the naive all-pairs truth — the entry shares the exact
    oracle, the grid-join certification pattern.

    Why it scales better than the full inverted index: the join fans
    out per SHARED INDEXED shingle, and prefixes (a) are ~(1−t)·|x|
    of the set and (b) consist of the RAREST shingles, exactly the
    ones with short posting lists — the boilerplate shingles that
    skew the full index's join never enter the index at all.
    Verification is row-local (array_intersect on the two distinct
    shingle arrays carried by id lookup), so the shuffle carries the
    candidate-pair ids + two bounded arrays, never pair×shingle
    rows. Global shingle order = (document frequency asc, shingle
    asc) — computed once, joined onto the per-doc shingle stream,
    per-doc prefix = array_sort + slice (row-local).
    """
    # Pin the shingle table before fanning out: THREE subplans
    # consume it (the index explode + both verification id lookups)
    # and would each re-tokenize + re-shingle the corpus otherwise
    # (the bounded_winnowing/postings pin discipline). Measured at
    # sf0.1: 11.7 s → 5.0 s, identical output.
    sh = docs.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(
            word_shingles(F.col(text_col), shingle_n)
        ).alias("sh"),
    ).transform(pin)
    ex = sh.select("__id", F.explode("sh").alias("__s"))
    df_tab = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    # per-doc shingles with their global order key, re-packed and
    # sorted row-locally; prefix = first |x| - ceil(t|x|) + 1
    keyed = (
        ex.join(df_tab, "__s")
        .groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__df", "__s"))
            ).alias("__ord")
        )
    )
    p_len = (
        F.size("__ord")
        - F.ceil(F.lit(float(threshold)) * F.size("__ord")).cast("int")
        + F.lit(1)
    )
    # The prefix index carries each indexed shingle's 0-based global
    # position and the doc's set size (r13): they feed the PPJoin
    # LENGTH and POSITIONAL filters below, which pruned 409k -> 125k
    # candidate pairs at sf0.1 BEFORE the per-pair array_intersect
    # verification (the measured dominant stage). Both filters are
    # lossless (Xiao et al. WWW'08): a qualifying pair's sizes obey
    # t·|x| ≤ |y|, and its FIRST common shingle under the global
    # order sits in both prefixes at the smallest common positions,
    # where the overlap upper bound 1 + min(|x|−i−1, |y|−j−1) is
    # maximal and ≥ the true overlap — so a true pair always has a
    # shared prefix row with ok = 1 and survives max(ok) = 1. The
    # double-precision comparisons carry a 1e-9 slack so a boundary
    # pair can only be UNDER-pruned (kept and verified), never lost.
    prefix = keyed.select(
        "__id",
        F.size("__ord").alias("__sz"),
        F.posexplode(
            F.transform(
                F.slice(F.col("__ord"), 1, p_len),
                lambda s: s.getField("__s"),
            )
        ).alias("__p", "__s"),
    )
    t = float(threshold)
    ub = F.lit(1) + F.least(
        F.col("__sa") - F.col("__pa") - 1, F.col("__sb") - F.col("__pb") - 1
    )
    cand = (
        prefix.select(
            F.col("__id").alias("id_a"),
            F.col("__sz").alias("__sa"),
            F.col("__p").alias("__pa"),
            "__s",
        )
        .join(
            prefix.select(
                F.col("__id").alias("id_b"),
                F.col("__sz").alias("__sb"),
                F.col("__p").alias("__pb"),
                "__s",
            ),
            "__s",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("__sb") >= F.lit(t) * F.col("__sa") - F.lit(1e-9))
            & (F.col("__sa") >= F.lit(t) * F.col("__sb") - F.lit(1e-9))
        )
        .withColumn(
            "__ok",
            (
                ub * F.lit(1.0 + t)
                >= F.lit(t) * (F.col("__sa") + F.col("__sb")) - F.lit(1e-9)
            ).cast("int"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("__ok").alias("__any_ok"))
        .filter(F.col("__any_ok") == 1)
        .select("id_a", "id_b")
    )
    verified = (
        cand.join(
            sh.select(F.col("__id").alias("id_a"), F.col("sh").alias("__A")),
            "id_a",
        )
        .join(
            sh.select(F.col("__id").alias("id_b"), F.col("sh").alias("__B")),
            "id_b",
        )
        .withColumn("__inter", F.size(F.array_intersect("__A", "__B")))
        .withColumn(
            "jaccard",
            F.col("__inter").cast("double")
            / (F.size("__A") + F.size("__B") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")
