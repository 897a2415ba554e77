"""Similarity search over embeddings — north-star X3 (SURVEY.md §2.11).

Two tiers, as a 100 TB ANN system is actually built:

  brute-force cosine top-k — exact; the refine stage and the recall
      ground truth. O(|Q|·|C|): fine when |Q| is small (a query
      batch) or candidates are pre-bucketed.
  random-hyperplane LSH    — sign-bit signatures via deterministic
      projections; candidates = bucket-mates (equi-join on the
      signature), then exact cosine refine. Sub-linear candidate
      generation, shuffle only on the signature key.

All vector math is built-in higher-order functions in DOUBLE
(functions/vector.py) — no UDFs, no Python in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.functions.vector import (
    cosine_similarity,
    dot,
    norm2,
)
from eco_pulse_lakehouse_spark.session import pin


def cosine_topk_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    round_sim: int | None = 6,
) -> DataFrame:
    """Exact top-k by cosine per query (excluding self-matches by id).

    Ranking uses (rounded sim desc, candidate id asc) — the rounding
    plus unique tiebreak makes the result set stable across engines
    and partitionings (SURVEY.md §7.4.5).

    Norms are precomputed per ROW below the join (one sqrt-fold per
    query/candidate instead of two per PAIR), so the per-pair work
    drops from three zip_with+aggregate folds (and their per-call
    array allocations) to one dot fold + a divide. Bit-identical to
    the inline form: same IEEE ops in the same association, just
    evaluated once. Measured ~1.1× on the 10×20k sf0.1 batch (the
    BNLJ row machinery and the per-query top-k sort share the bill
    at this size); the saving scales with pair count, which is the
    quantity that explodes."""
    qn = queries.withColumn("__qn", norm2(F.col(q_vec)))
    cn = candidates.withColumn("__cn", norm2(F.col(c_vec)))
    sim = dot(F.col(q_vec), F.col(c_vec)) / (
        F.col("__qn") * F.col("__cn")
    )
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    scored = (
        qn.crossJoin(cn)
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col(c_id).asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "sim", "rk")
    )


def quantize_embeddings(
    embeddings: DataFrame,
    vec_col: str,
    out_col: str = "q_vec",
    n_levels: int = 127,
) -> DataFrame:
    """Scalar int8 quantization of L2-normalized embeddings:
    ``q_i = round(v_i / ||v|| * n_levels)`` ∈ [−n_levels, n_levels].

    The 100 TB embedding-store move: a float32 768-dim vector is
    3 KB; int8 is 768 B — 4× less scan, shuffle, and memory at every
    ANN stage, and integer dot products replace float folds in the
    scoring loop. Normalizing first means the quantization scale is
    the plan constant ``n_levels`` (no global max-abs pass), and the
    int dot product approximates cosine order directly.

    Cross-engine determinism: the norm is the same sequential double
    fold as functions/vector.py:dot (matches DuckDB's list kernels
    bit-for-bit), sqrt/division are correctly-rounded IEEE ops, and
    round() ties away from zero in both Spark (HALF_UP) and DuckDB —
    so the quantized vectors are bit-identical and everything
    downstream is exact integer math."""
    from eco_pulse_lakehouse_spark.functions.vector import norm2

    v = F.col(vec_col)
    norm = norm2(v)
    qv = F.transform(
        v,
        lambda x: F.round(
            x.cast("double") / norm * F.lit(float(n_levels)), 0
        ).cast("int"),
    )
    return embeddings.withColumn(out_col, qv)


def quantized_dot_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Top-k by integer dot product over quantized vectors (the ADC
    scoring stage of a quantized ANN index). Exact BIGINT arithmetic:
    no float summation anywhere, so ranking is reproducible across
    engines, partitionings, and retries — and the oracle matches
    bit-for-bit, unlike any float-scored ANN path."""
    qdot = F.aggregate(
        F.zip_with(
            F.col(q_vec),
            F.col(c_vec),
            lambda x, y: x.cast("bigint") * y.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        queries.crossJoin(candidates)
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("qdot", qdot)
    )
    w = Window.partitionBy(q_id).orderBy(F.col("qdot").desc(), F.col(c_id).asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "qdot", F.col("rk").cast("int").alias("rk"))
    )


def _deterministic_projections(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    """Seeded pseudo-random unit-free hyperplanes, generated driver-side
    (constants in the plan — no RNG at executor time, reproducible)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def lsh_signature(vec_col, projections: list[list[float]]):
    """Sign-bit signature: bit j = 1 if vec·proj_j > 0 — packed to a
    LONG so the bucket join key is 8 bytes."""
    bits = []
    for j, proj in enumerate(projections):
        dot_j = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(float(p)) for p in proj]),
                lambda x, p: x.cast("double") * p,
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        bits.append(
            F.when(dot_j > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = F.lit(0).cast("long")
    for b in bits:
        out = out.bitwiseOR(b)
    return out


def cosine_topk_lsh(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bits: int = 12,
    dim: int = 64,
    round_sim: int | None = 6,
) -> DataFrame:
    """Approximate all-pairs top-k: bucket by LSH signature, exact
    cosine within buckets. Recall measured in tests against the
    brute-force truth (~bits trades recall for bucket size)."""
    projections = _deterministic_projections(dim, bits)
    # per-row norms below the bucket join: one dot fold per PAIR
    # instead of three — bit-identical (same ops, same association;
    # see cosine_topk_bruteforce), and bucket-pair count is the
    # quantity that explodes at scale
    sig = embeddings.withColumn(
        "__sig", lsh_signature(F.col(vec_col), projections)
    ).withColumn("__n", norm2(F.col(vec_col)))
    a = sig.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        "__sig", F.col("__n").alias("__qn"),
    )
    b = sig.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"),
        "__sig", F.col("__n").alias("__cn"),
    )
    sim = dot(F.col("q_vec"), F.col("c_vec")) / (
        F.col("__qn") * F.col("__cn")
    )
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    scored = (
        a.join(b, "__sig")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", "sim", "rk")
    )


def cosine_topk_lsh_multiprobe(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bits: int = 8,
    n_flip: int = 2,
    dim: int = 64,
    round_sim: int | None = 6,
) -> DataFrame:
    """Multi-probe random-hyperplane LSH (Lv et al., VLDB 2007):
    each query probes its own bucket PLUS the ``n_flip`` buckets
    reached by flipping its lowest-|margin| sign bits — the bits whose
    hyperplane the vector sits closest to, i.e. the collisions a
    near-neighbor is most likely to have landed in.

    The scale knob this adds over :func:`cosine_topk_lsh`: recall
    comparable to ``n_flip + 1`` independent LSH tables for the index
    cost of ONE — candidates are hashed and stored once, and only the
    QUERY side is replicated (×(n_flip+1) rows through the equi-join,
    never the corpus). At 100 TB the candidate index dominates, so
    multi-probe is how you buy recall without rebuilding or re-storing
    it. Probe signatures differ per probe, and every candidate owns
    exactly one signature, so a (q, c) pair can match at most once —
    no post-join dedup.

    Bit-flip choice is deterministic and engine-neutral: bit j flips
    iff fewer than ``n_flip`` bits i have (|dot_i|, i) strictly below
    (|dot_j|, j) — a rank-by-comparison over the same IEEE doubles
    both engines compute, no sort, no RNG. Returns (q_id, c_id, sim,
    rk), the :func:`cosine_topk_lsh` shape.
    """
    projections = _deterministic_projections(dim, bits)

    def dot_j(proj: list[float]) -> Column:
        return F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(p)) for p in proj]),
                lambda x, p: x.cast("double") * p,
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )

    base = embeddings.withColumn(
        "__dots", F.array(*[dot_j(p) for p in projections])
    )
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig.bitwiseOR(
            F.when(
                F.col("__dots")[j] > 0,
                F.shiftleft(F.lit(1).cast("long"), j),
            ).otherwise(F.lit(0).cast("long"))
        )
    base = base.withColumn("__sig", sig)

    def n_smaller(j: int) -> Column:
        # |{i : (|dot_i|, i) < (|dot_j|, j)}| — exact double compares
        # on identically-computed values, index tiebreak total-orders.
        mj = F.abs(F.col("__dots")[j])
        return F.size(
            F.filter(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda i: (
                    (F.abs(F.element_at(F.col("__dots"), i + 1)) < mj)
                    | (
                        (F.abs(F.element_at(F.col("__dots"), i + 1)) == mj)
                        & (i < F.lit(j))
                    )
                ),
            )
        )

    flip_entries = F.array(
        *[
            F.struct(
                (n_smaller(j) < F.lit(n_flip)).alias("f"),
                F.lit(1 << j).cast("long").alias("m"),
            )
            for j in range(bits)
        ]
    )
    probe_sigs = F.concat(
        F.array(F.col("__sig")),
        F.transform(
            F.filter(flip_entries, lambda e: e["f"]),
            lambda e: F.col("__sig").bitwiseXOR(e["m"]),
        ),
    )

    qprobes = base.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm2(F.col(vec_col)).alias("__qn"),
        F.explode(probe_sigs).alias("__sig"),
    )
    cand = base.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        norm2(F.col(vec_col)).alias("__cn"),
        "__sig",
    )
    # per-row norms below the probe join (see cosine_topk_lsh)
    sim = dot(F.col("q_vec"), F.col("c_vec")) / (
        F.col("__qn") * F.col("__cn")
    )
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    scored = (
        qprobes.join(cand, "__sig")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", "sim", "rk")
    )


def seed_centroids(
    embeddings: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Deterministic k seed vectors: the k lowest-id rows, re-labeled
    0..k-1. Works for ANY id type/distribution (string, UUID, sparse
    ints) — unlike ``filter(id < k)``, which silently under-seeds
    when ids aren't dense 0..n. orderBy+limit plans as
    TakeOrderedAndProject (no global sort); the k-row window that
    assigns labels runs on a single partition of k rows."""
    w = Window.orderBy(F.col(id_col).asc())
    return (
        embeddings.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(k)
        .withColumn("cent_id", F.row_number().over(w).cast("int") - 1)
        .select(
            "cent_id", F.col(vec_col).cast("array<double>").alias("cent_vec")
        )
    )


def kmeans_centroids(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iterations: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Lloyd's k-means, DataFrame-only: assign via broadcast argmin
    (cosine), recompute centroids as element-wise means via
    posexplode + groupBy — both stages shuffle only (vec_id, dim)
    pairs, never a matrix to the driver. Seeded deterministically
    with the k lowest-id vectors (id-type agnostic). A cluster that
    receives no assignments keeps its previous centroid instead of
    vanishing, so k never shrinks across iterations.
    Returns (cent_id, cent_vec).

    Used to upgrade ivf_topk's inverted lists from arbitrary seeds to
    data-adaptive clusters (measurably better recall at equal
    n_probe — see tests/test_northstar.py)."""
    cents = seed_centroids(embeddings, id_col, vec_col, k)
    # row norms are loop-INVARIANT — fold each vector once, not once
    # per centroid per iteration (bit-identical; the per-iteration
    # centroid norms are k rows, free)
    vecs = embeddings.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__v"),
        norm2(F.col(vec_col)).alias("__vn"),
    )
    for _ in range(iterations):
        cn = cents.withColumn("__cent_n", norm2(F.col("cent_vec")))
        sim = dot(F.col("__v"), F.col("cent_vec")) / (
            F.col("__vn") * F.col("__cent_n")
        )
        w = Window.partitionBy("__vid").orderBy(
            F.col("__cs").desc(), F.col("cent_id").asc()
        )
        assigned = (
            vecs.crossJoin(F.broadcast(cn))
            .withColumn("__cs", sim)
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("__vid", "__v", "cent_id")
        )
        # element-wise mean per cluster: posexplode -> avg per (cluster, pos)
        recomputed = (
            assigned.select(
                "cent_id", F.posexplode(F.col("__v").cast("array<double>"))
            )
            .groupBy("cent_id", "pos")
            .agg(F.avg("col").alias("m"))
            .groupBy("cent_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cent_id",
                F.transform(F.col("pm"), lambda s: s.getField("m")).alias(
                    "cent_vec"
                ),
            )
        )
        # clusters with no assigned vectors keep their previous centroid
        cents = recomputed.unionByName(
            cents.join(recomputed.select("cent_id"), "cent_id", "left_anti")
        )
        # pin per iteration: cents is referenced TWICE per round
        # (recompute + empty-cluster carry), so the unpinned lazy
        # plan doubles each iteration (2^iterations subtrees). The
        # table is k rows — pinning is free.
        cents = pin(cents)
    return cents


def _nearest_lists(
    df: DataFrame,
    idc: str,
    vecc: str,
    cents: DataFrame,
    n_lists: int,
    norm_col: str | None = None,
) -> DataFrame:
    """n_lists nearest centroids per row via rank over the broadcast
    cross product (centroid count is tiny).

    Row and centroid norms are computed ONCE below the cross join
    (one sqrt-fold per row + per centroid instead of two per
    row×centroid cell) — bit-identical to the inline cosine: same
    IEEE ops in the same ``dot / (n_row · n_cent)`` association.
    Pass ``norm_col`` to KEEP the per-row norm in the output under
    that name so the downstream pair scorer reuses it instead of
    re-folding the vector."""
    cn = cents.withColumn("__cent_n", norm2(F.col("cent_vec")))
    base = df.withColumn("__rown", norm2(F.col(vecc)))
    sim = dot(F.col(vecc), F.col("cent_vec")) / (
        F.col("__rown") * F.col("__cent_n")
    )
    scored = base.crossJoin(F.broadcast(cn)).withColumn("__cs", sim)
    w = Window.partitionBy(idc).orderBy(
        F.col("__cs").desc(), F.col("cent_id").asc()
    )
    out = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_lists)
        .drop("__cs", "__r", "cent_vec", "__cent_n")
    )
    if norm_col is None:
        return out.drop("__rown")
    return out.withColumnRenamed("__rown", norm_col)


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
) -> None:
    """Persist an IVF index: ``<path>/centroids`` (tiny) and
    ``<path>/lists`` — the inverted lists PARTITIONED BY ``cent_id``,
    so a query that probes 2 of 16 lists physically reads 2/16 of the
    index files (parquet partition pruning; plan-asserted in
    tests/test_plans.py).

    This is the serving shape at 100 TB: the index is built ONCE (the
    expensive scan over every vector), and each query batch afterward
    touches only its probed partitions — build cost amortizes across
    every future query instead of being re-paid per call the way the
    in-memory `ivf_topk` re-assigns lists each run."""
    cents = (
        centroids
        if centroids is not None
        else seed_centroids(embeddings, id_col, vec_col, n_centroids)
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    # the index stores each vector's norm next to it (c_norm), so
    # query-time scoring folds each candidate pair ONCE — classic
    # IVF metadata, free at build time because assignment computed
    # the norm anyway
    lists = _nearest_lists(
        embeddings.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_id",
        "c_vec",
        cents,
        1,
        norm_col="c_norm",
    )
    lists.write.mode("overwrite").partitionBy("cent_id").parquet(
        f"{path}/lists"
    )


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    round_sim: int | None = 6,
) -> DataFrame:
    """Search a persisted IVF index (:func:`build_ivf_index`): assign
    each query its ``n_probe`` nearest centroids (broadcast), collect
    the DISTINCT probed list ids (≤ queries × n_probe longs — O(probe
    set) metadata, the same sanctioned driver-side collect as
    rank.py's offsets), and scan ONLY those ``cent_id=`` partitions.
    Scoring/ranking matches `ivf_topk` exactly — same centroids ⇒
    same results (test-pinned)."""
    cents = spark.read.parquet(f"{path}/centroids")
    probes = _nearest_lists(queries, q_id, q_vec, cents, n_probe, "__qn")
    probe_ids = [
        r.cent_id for r in probes.select("cent_id").distinct().collect()
    ]
    lists = spark.read.parquet(f"{path}/lists").filter(
        F.col("cent_id").isin(probe_ids)
    )
    if "c_norm" not in lists.columns:  # index built before norms were stored
        lists = lists.withColumn("c_norm", norm2(F.col("c_vec")))
    sim = dot(F.col(q_vec), F.col("c_vec")) / (
        F.col("__qn") * F.col("c_norm")
    )
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    scored = (
        probes.join(lists, "cent_id")
        .filter(F.col(q_id) != F.col("c_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(q_id, "c_id", "sim", "rk")
    )


def ivf_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    round_sim: int | None = 6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: partition vectors into inverted lists by nearest
    centroid, search only the query's ``n_probe`` nearest lists.

    Default centroids are the ``n_centroids`` lowest-id vectors
    (deterministic, id-type agnostic — see :func:`seed_centroids`);
    pass ``centroids=kmeans_centroids(...)`` for data-adaptive lists
    (better recall at equal n_probe).
    Assignment is a broadcast join against the tiny centroid set +
    argmin; search is an equi-join on the list id — the candidate set
    shrinks |C|/n_centroids-fold while staying a pure shuffle join
    (the 100 TB shape, same property as LSH but data-adaptive).
    """
    cents = (
        centroids
        if centroids is not None
        else seed_centroids(embeddings, id_col, vec_col, n_centroids)
    )

    lists = _nearest_lists(
        embeddings.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_id",
        "c_vec",
        cents,
        1,  # each vector lives in exactly one inverted list
        norm_col="__cn",
    )
    probes = _nearest_lists(
        embeddings.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_id",
        "q_vec",
        cents,
        n_probe,
        norm_col="__qn",
    )
    # reuse the norms assignment already computed: one dot fold per
    # candidate pair instead of three (bit-identical — same IEEE ops,
    # same association; see cosine_topk_bruteforce)
    sim = dot(F.col("q_vec"), F.col("c_vec")) / (
        F.col("__qn") * F.col("__cn")
    )
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    scored = (
        probes.join(lists, "cent_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", "sim", "rk")
    )


def cosine_topk_block(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul — the fast
    scorer for paths that don't need bit-parity with a SQL oracle
    (numpy's pairwise summation orders float adds differently than a
    sequential fold, so sims can differ in the last ulp; ranking and
    sets agree — pinned by tests/test_northstar.py).

    Shape: the query batch (small by contract — a probe set, not the
    corpus) is collected and BROADCAST as one dense matrix; each
    candidate Arrow batch computes a Q×B matmul and emits only its
    per-query partial top-k. The shuffle then carries
    O(#batches · Q · k) short rows into a final ranking window —
    candidate vectors themselves never shuffle. This is the refine
    stage a 100 TB ANN system runs after LSH/IVF candidate pruning,
    and the |Q| ≪ |C| brute-force form.
    """
    q_rows = queries.select(q_id, q_vec).collect()  # small probe batch
    import numpy as np

    q_ids = [r[0] for r in q_rows]
    qm = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)
    spark = queries.sparkSession
    b = spark.sparkContext.broadcast((q_ids, qn))

    id_type = candidates.schema[c_id].dataType.simpleString()
    qid_type = queries.schema[q_id].dataType.simpleString()
    out_schema = f"{q_id} {qid_type}, {c_id} {id_type}, sim double"

    def score(batches):
        import pandas as pd

        q_ids_l, qn_l = b.value
        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.asarray(
                [list(v) for v in pdf[c_vec].values], dtype=np.float64
            )
            cn = cm / np.maximum(
                np.linalg.norm(cm, axis=1, keepdims=True), 1e-300
            )
            sims = qn_l @ cn.T  # Q x B
            # k+1: the batch may contain the query itself (dropped below)
            kk = min(k + 1, sims.shape[1])
            part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            out_q, out_c, out_s = [], [], []
            cids = pdf[c_id].values
            for qi, qv in enumerate(q_ids_l):
                for ci in part[qi]:
                    if cids[ci] == qv:
                        continue  # self-match
                    out_q.append(qv)
                    out_c.append(cids[ci])
                    out_s.append(sims[qi, ci])
            yield pd.DataFrame({q_id: out_q, c_id: out_c, "sim": out_s})

    partial = candidates.select(c_id, c_vec).mapInPandas(score, out_schema)
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col(c_id).asc())
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "sim", "rk")
    )


def ann_neardup_refined(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    bits: int = 6,
    tables: int = 3,
    dim: int = 64,
    round_sim: int | None = 6,
) -> DataFrame:
    """X3 composed pipeline — the production near-dup shape:
    LSH CANDIDATES → exact-cosine REFINE, in one declarative plan.

    ``tables`` independent random-hyperplane signatures (seeds 7, 8,
    …); a pair is a candidate if it collides in ANY table (union of
    equi-joins on the 8-byte signature key — never a cross join).
    Candidates are then refined by exact cosine >= threshold, so the
    output is exactly truth ∩ candidates: a deterministic subset of
    :func:`cosine_neardup_pairs`, which makes the whole composition
    oracle-checkable (the oracle replays the same literal projections
    in SQL). Returns (id_a, id_b, sim).

    Scale: per table the shuffle key is one long per vector; refine
    touches only colliding pairs (|pairs| ≪ n²). Recall tunes with
    tables × bits, cost with bucket sizes — the knobs a 100 TB run
    actually turns.
    """
    cands = None
    for t in range(tables):
        projs = _deterministic_projections(dim, bits, seed=7 + t)
        sig = embeddings.select(
            F.col(id_col), lsh_signature(F.col(vec_col), projs).alias("__sig")
        )
        a = sig.select(F.col(id_col).alias("id_a"), "__sig")
        b = sig.select(F.col(id_col).alias("id_b"), "__sig")
        p = (
            a.join(b, "__sig")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cands = p if cands is None else cands.unionByName(p)
    cands = cands.distinct()
    e_a = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm2(F.col(vec_col)).alias("__na"),
    )
    e_b = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm2(F.col(vec_col)).alias("__nb"),
    )
    # per-row norms below the candidate join (see cosine_topk_lsh)
    sim = dot(F.col("__va"), F.col("__vb")) / (
        F.col("__na") * F.col("__nb")
    )
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    return (
        cands.join(e_a, "id_a")
        .join(e_b, "id_b")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def ivf_topk_bounded(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    max_list_size: int | None = None,
    round_sim: int | None = 6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF with BOUNDED inverted lists: vectors beyond
    ``max_list_size`` in their nearest list spill to their
    second-nearest centroid (one spill round).

    Why: real embedding distributions are lumpy — one hot centroid
    can swallow a large share of the corpus, making every probe of
    that list cost O(hot share) and hiding a straggler in each query
    wave. Capping list size bounds the worst-case probe cost at
    ``max_list_size`` regardless of skew (the same argument as salting
    a hot join key). Membership is decided by a ranking window within
    each list (sim desc — the best-fitting vectors stay), so the
    result is deterministic. One spill round: a vector spilled from
    its 1st and (if full) kept in its 2nd list even when that list is
    also at cap — a fixed bound beats an unbounded cascade.

    Recall: queries probe ``n_probe`` lists, so a spilled vector is
    still found via its second list; tests/test_northstar.py pins
    recall against the unbounded form.
    """
    cents = (
        centroids
        if centroids is not None
        else seed_centroids(embeddings, id_col, vec_col, n_centroids)
    )

    # per-row + per-centroid norms below the broadcast cross join,
    # reused by the pair scorer at the end (bit-identical; see
    # cosine_topk_bruteforce)
    cn = cents.withColumn("__cent_n", norm2(F.col("cent_vec")))
    sim_c = dot(F.col("__v"), F.col("cent_vec")) / (
        F.col("__cn") * F.col("__cent_n")
    )
    ranked = (
        embeddings.select(
            F.col(id_col).alias("__vid"),
            F.col(vec_col).alias("__v"),
            norm2(F.col(vec_col)).alias("__cn"),
        )
        .crossJoin(F.broadcast(cn))
        .withColumn("__cs", sim_c)
        .withColumn(
            "__choice",
            F.row_number().over(
                Window.partitionBy("__vid").orderBy(
                    F.col("__cs").desc(), F.col("cent_id").asc()
                )
            ),
        )
        .filter(F.col("__choice") <= 2)
    )
    first = ranked.filter(F.col("__choice") == 1)
    if max_list_size is not None:
        pos = F.row_number().over(
            Window.partitionBy("cent_id").orderBy(
                F.col("__cs").desc(), F.col("__vid").asc()
            )
        )
        first = first.withColumn("__pos", pos)
        kept = first.filter(F.col("__pos") <= max_list_size).drop("__pos")
        spilled = (
            first.filter(F.col("__pos") > max_list_size)
            .select("__vid")
            .join(ranked.filter(F.col("__choice") == 2), "__vid")
        )
        lists = kept.unionByName(spilled, allowMissingColumns=True).select(
            F.col("__vid").alias("c_id"),
            F.col("__v").alias("c_vec"),
            "cent_id",
            "__cn",
        )
    else:
        lists = first.select(
            F.col("__vid").alias("c_id"),
            F.col("__v").alias("c_vec"),
            "cent_id",
            "__cn",
        )

    probes = (
        embeddings.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            norm2(F.col(vec_col)).alias("__qn"),
        )
        .crossJoin(F.broadcast(cn))
        .withColumn(
            "__qs",
            dot(F.col("q_vec"), F.col("cent_vec"))
            / (F.col("__qn") * F.col("__cent_n")),
        )
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.col("__qs").desc(), F.col("cent_id").asc()
                )
            ),
        )
        .filter(F.col("__r") <= n_probe)
        .select("q_id", "q_vec", "cent_id", "__qn")
    )
    sim = dot(F.col("q_vec"), F.col("c_vec")) / (
        F.col("__qn") * F.col("__cn")
    )
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    scored = (
        probes.join(lists, "cent_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", "sim", "rk")
    )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_sim: int | None = 6,
) -> DataFrame:
    """X2/X3 — embedding-cosine near-duplicate pairs (id_a < id_b).
    Brute-force form (oracle truth); LSH-bucketed candidates at scale.
    """
    a = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm2(F.col(vec_col)).alias("__na"),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm2(F.col(vec_col)).alias("__nb"),
    )
    # per-row norms below the join: one dot fold per PAIR instead of
    # three (bit-identical — same ops, same association; see
    # cosine_topk_bruteforce)
    sim = dot(F.col("vec_a"), F.col("vec_b")) / (
        F.col("__na") * F.col("__nb")
    )
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


# =====================================================================
# Product quantization (PQ) — segment-wise codebooks over int8 vectors
# =====================================================================


def _floor_div(num: Column, den: Column) -> Column:
    """Exact floor division on integral columns, pure integer math:
    ``(num - pmod(num, den)) div den``. ``pmod`` is non-negative, so
    the numerator is exactly divisible and the SQL ``div`` operator
    (IntegralDivide — 64-bit integer division, no float detour) is
    exact for any num in [-2^63 + den, 2^63) — the subtraction
    ``num - pmod`` needs den of headroom at the negative extreme.
    The previous form used ``/``,
    which is DOUBLE division and silently loses precision past 2^53
    (round-2 ADVICE; property test now crosses 2^53)."""
    return F.call_function("div", num - F.pmod(num, den), den)


def pq_codebooks(
    quantized: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q_vec",
    m_segments: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    iterations: int = 0,
    seed_offset: int = 0,
) -> DataFrame:
    """Train per-segment PQ codebooks over int8-quantized vectors
    (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011). The vector is split into ``m_segments``
    contiguous sub-vectors; each segment gets its own ``k_codes``-entry
    codebook, so a d-dim vector compresses to m small code ids
    (here 8 bytes vs 64 int8 components — a further 8x on top of the
    4x from scalar quantization).

    ALL-INTEGER Lloyd's: distances are exact BIGINT squared-L2,
    centroid updates are element-wise floor(sum/count) in pure
    integer math (_floor_div), seeds are the k lowest-id rows
    (id-type agnostic, like seed_centroids). Deterministic and
    order-independent — same codebooks on any partitioning, any
    retry, any engine; ``iterations=0`` (seed codebooks) is exactly
    replayable in ANSI SQL, which is what the x3_pq_topk oracle does.
    Empty clusters keep their previous centroid, so k never shrinks.

    Scale shape: the training set for a codebook is typically a
    SAMPLE at 100 TB (codebooks converge on ~100k vectors); pass a
    ``.sample()`` in. Each Lloyd iteration shuffles only
    (id, segment) argmin rows and (segment, code, pos) partial sums —
    never full vectors to one place. Returns (seg, code, cent):
    m_segments * k_codes tiny rows, broadcastable everywhere.
    """
    sd = dim // m_segments
    segs = F.sequence(F.lit(0), F.lit(m_segments - 1))
    sub_of = lambda v, m: F.slice(v, m * sd + 1, sd)  # noqa: E731

    # seed: k lowest-id rows after skipping seed_offset, segment-sliced
    # -> (seg, code, cent). seed_offset matters when the caller already
    # consumed the lowest ids for another codebook (ivfpq_topk's coarse
    # quantizer: the coarse seeds' RESIDUALS are exactly zero, and
    # all-zero seeds collapse every code to 0)
    w = Window.orderBy(F.col(id_col).asc())
    seeds = (
        quantized.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(seed_offset + k_codes)
        .withColumn("code", F.row_number().over(w).cast("int") - 1 - seed_offset)
        .filter(F.col("code") >= 0)
    )
    cb = (
        seeds.select("code", F.posexplode(
            F.transform(segs, lambda m: sub_of(F.col(vec_col), m))
        ).alias("seg", "cent"))
        .select(F.col("seg").cast("int"), "code",
                F.col("cent").cast("array<int>").alias("cent"))
    )

    if iterations <= 0:
        return cb

    dsub = quantized.select(
        F.col(id_col).alias("__vid"),
        F.posexplode(
            F.transform(segs, lambda m: sub_of(F.col(vec_col), m))
        ).alias("seg", "sub"),
    ).withColumn("seg", F.col("seg").cast("int"))

    sq_l2 = F.aggregate(
        F.zip_with(
            F.col("sub"), F.col("cent"),
            lambda x, y: (x - y).cast("bigint") * (x - y).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    for _ in range(iterations):
        assigned = (
            dsub.join(F.broadcast(cb), "seg")
            .withColumn("__d", sq_l2)
            .groupBy("__vid", "seg")
            .agg(F.min(F.struct("__d", "code", "sub")).alias("__best"))
            .select("seg", F.col("__best.code").alias("code"),
                    F.col("__best.sub").alias("sub"))
        )
        recomputed = (
            assigned.select("seg", "code", F.posexplode("sub"))
            .groupBy("seg", "code", "pos")
            .agg(F.sum(F.col("col").cast("bigint")).alias("s"),
                 F.count(F.lit(1)).alias("n"))
            .withColumn("m", _floor_div(F.col("s"), F.col("n")).cast("int"))
            .groupBy("seg", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("seg", "code",
                    F.transform(F.col("pm"), lambda s: s.getField("m")).alias("cent"))
        )
        cb = recomputed.unionByName(
            cb.join(recomputed.select("seg", "code"), ["seg", "code"], "left_anti")
        )
    return cb


def _codebook_map(cb: DataFrame, k_codes: int) -> DataFrame:
    """Fold the (seg, code, cent) codebook into ONE row holding a
    map<int, array<int>> keyed ``seg * k_codes + code`` — crossJoin +
    broadcast makes every centroid a plan-local lookup, so encode and
    LUT construction never shuffle the data side."""
    return cb.groupBy().agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("seg") * k_codes + F.col("code")).alias("k"),
                    F.col("cent").alias("v"),
                )
            )
        ).alias("__cb")
    )


def pq_encode(
    quantized: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q_vec",
    m_segments: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode each vector as ``m_segments`` code ids — the nearest
    (exact BIGINT squared-L2, ties to the LOWEST code) centroid per
    segment.

    ZERO-SHUFFLE over the data: the codebook rides in as a broadcast
    one-row map and the whole argmin is a nested higher-order
    expression (transform over segments x transform over codes ->
    array_position of the array_min), entirely inside whole-stage
    codegen. A 100 TB encode is a map-only pass that writes m ints
    per row."""
    sd = dim // m_segments
    cbm = _codebook_map(codebooks, k_codes)

    def dist(m, c):
        cent = F.element_at(F.col("__cb"), (m * k_codes + c).cast("int"))
        return F.aggregate(
            F.zip_with(
                F.slice(F.col(vec_col), m * sd + 1, sd), cent,
                lambda x, y: (x - y).cast("bigint") * (x - y).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    def code_for(m):
        scores = F.transform(
            F.sequence(F.lit(0), F.lit(k_codes - 1)), lambda c: dist(m, c)
        )
        return (F.array_position(scores, F.array_min(scores)) - 1).cast("int")

    codes = F.transform(F.sequence(F.lit(0), F.lit(m_segments - 1)), code_for)
    return (
        quantized.crossJoin(F.broadcast(cbm))
        .withColumn(out_col, codes)
        .drop("__cb")
    )


def pq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    codes_col: str = "pq_codes",
    m_segments: int = 8,
    k_codes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: per query, precompute the
    m x k lookup table of exact BIGINT dot products between each
    query segment and each centroid; a candidate's score is then m
    map lookups summed — never a d-dim fold per pair. Queries (with
    their LUTs) broadcast; the candidate side is scanned once,
    narrow, and only (q_id, c_id, score) rows reach the top-k
    shuffle. Exact integer scoring => bit-reproducible ranking
    across engines/retries, like quantized_dot_topk."""
    sd = dim // m_segments
    cbm = _codebook_map(codebooks, k_codes)

    def lut_entry(j):
        m = _floor_div(j.cast("bigint"), F.lit(k_codes).cast("bigint"))
        cent = F.element_at(F.col("__cb"), j.cast("int"))
        return F.aggregate(
            F.zip_with(
                F.slice(F.col(q_vec), (m * sd + 1).cast("int"), sd), cent,
                lambda x, y: x.cast("bigint") * y.cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m_segments * k_codes - 1)), lut_entry
    )
    q_lut = queries.crossJoin(F.broadcast(cbm)).withColumn("__lut", lut).drop("__cb")

    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(m_segments - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, m: acc
        + F.element_at(
            F.col("__lut"),
            (m * k_codes + F.element_at(F.col(codes_col), (m + 1).cast("int")) + 1).cast("int"),
        ),
    )
    scored = (
        encoded.crossJoin(F.broadcast(q_lut.select(q_id, "__lut")))
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("score", score)
    )
    w = Window.partitionBy(q_id).orderBy(F.col("score").desc(), F.col(c_id).asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "score", F.col("rk").cast("int").alias("rk"))
    )


def pq_distortion(
    quantized: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "q_vec",
    m_segments: int = 8,
    k_codes: int = 16,
    dim: int = 64,
) -> int:
    """Total squared-L2 quantization error of a codebook over a
    dataset (the k-means objective, exact BIGINT) — the tuning signal
    for (m_segments, k_codes, iterations). One narrow map pass +
    a scalar sum; at 100 TB run it on the same sample used for
    training."""
    sd = dim // m_segments
    cbm = _codebook_map(codebooks, k_codes)

    def seg_min(m):
        scores = F.transform(
            F.sequence(F.lit(0), F.lit(k_codes - 1)),
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(F.col(vec_col), m * sd + 1, sd),
                    F.element_at(F.col("__cb"), F.lit(m * k_codes) + c.cast("int")),
                    lambda x, y: (x - y).cast("bigint") * (x - y).cast("bigint"),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
        )
        return F.array_min(scores)

    per_row = sum(
        [seg_min(m) for m in range(1, m_segments)], seg_min(0)
    )
    return (
        quantized.crossJoin(F.broadcast(cbm))
        .select(per_row.alias("__d"))
        .agg(F.sum("__d"))
        .first()[0]
    )


def pq_distortion_table(
    quantized: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "q_vec",
    m_segments: int = 8,
    k_codes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """``pq_distortion`` as a 1-row DataFrame (m_segments, k_codes,
    distortion) instead of a driver-side scalar — composable into a
    tuning SWEEP (union one row per config) that stays a single lazy
    plan: no ``.first()`` per config, so a sweep over C configs is C
    narrow map passes Spark schedules together, the shape a 100 TB
    tuning job wants. Exact BIGINT squared-L2, same math as
    pq_distortion (corpus x3_pq_distortion_sweep replays it in SQL)."""
    sd = dim // m_segments
    cbm = _codebook_map(codebooks, k_codes)

    def seg_min(m):
        scores = F.transform(
            F.sequence(F.lit(0), F.lit(k_codes - 1)),
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(F.col(vec_col), m * sd + 1, sd),
                    F.element_at(
                        F.col("__cb"), F.lit(m * k_codes) + c.cast("int")
                    ),
                    lambda x, y: (x - y).cast("bigint")
                    * (x - y).cast("bigint"),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
        )
        return F.array_min(scores)

    per_row = sum([seg_min(m) for m in range(1, m_segments)], seg_min(0))
    return (
        quantized.crossJoin(F.broadcast(cbm))
        .select(per_row.alias("__d"))
        .groupBy(
            F.lit(m_segments).cast("int").alias("m_segments"),
            F.lit(k_codes).cast("int").alias("k_codes"),
        )
        .agg(F.sum("__d").cast("bigint").alias("distortion"))
    )


def _ivfpq_residuals(
    quantized: DataFrame,
    coarse: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    dim: int,
) -> DataFrame:
    """Assign each vector its coarse list (PQ-encode with m=1) and
    compute the integer residual vs that list's centroid."""
    cmap = _codebook_map(coarse, n_lists)
    assigned = pq_encode(
        quantized, coarse, id_col, vec_col,
        m_segments=1, k_codes=n_lists, dim=dim, out_col="__list",
    ).withColumn("__list", F.element_at("__list", 1))
    residual = F.zip_with(
        F.col(vec_col),
        F.element_at(F.col("__cb"), F.col("__list")),
        lambda x, y: (x - y).cast("int"),
    )
    return (
        assigned.crossJoin(F.broadcast(cmap))
        .withColumn("__r", residual)
        .drop("__cb")
    )


def ivfpq_codebooks(
    quantized: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q_vec",
    n_lists: int = 16,
    m_segments: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    coarse_iterations: int = 0,
    pq_iterations: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Train the IVF-PQ index parameters ONCE (bootstrap — at 100 TB
    on a sample): the coarse quantizer (full-vector integer k-means =
    PQ with m=1) and the residual PQ codebook. Both are tiny
    broadcastable tables; everything downstream (encode at ingest,
    query at serve) treats them as plan constants, which is what lets
    a STREAMING ingest encode each batch independently and still
    agree exactly with a batch build (t19)."""
    coarse = pq_codebooks(
        quantized, id_col, vec_col,
        m_segments=1, k_codes=n_lists, dim=dim,
        iterations=coarse_iterations,
    )
    resid = _ivfpq_residuals(quantized, coarse, id_col, vec_col, n_lists, dim)
    rcb = pq_codebooks(
        resid, id_col, "__r",
        m_segments=m_segments, k_codes=k_codes, dim=dim,
        iterations=pq_iterations,
        # the n_lists lowest ids ARE the coarse seeds — their residuals
        # are identically zero and would degenerate the codebook
        seed_offset=n_lists,
    )
    return coarse, rcb


def ivfpq_encode(
    quantized: DataFrame,
    coarse: DataFrame,
    rcb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q_vec",
    n_lists: int = 16,
    m_segments: int = 8,
    k_codes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Encode vectors against FIXED codebooks: (c_id, __list,
    __codes). Map-only over the data side (broadcast codebook maps,
    HOF argmins) — the per-batch ingest step; content-deterministic,
    so batches encoded at different times agree exactly."""
    resid = _ivfpq_residuals(quantized, coarse, id_col, vec_col, n_lists, dim)
    return pq_encode(
        resid, rcb, id_col, "__r",
        m_segments=m_segments, k_codes=k_codes, dim=dim, out_col="__codes",
    ).select(F.col(id_col).alias("c_id"), "__list", "__codes")


def ivfpq_query(
    queries: DataFrame,
    enc: DataFrame,
    coarse: DataFrame,
    rcb: DataFrame,
    q_id: str = "q_id",
    vec_col: str = "q_vec",
    m_segments: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    n_probe: int = 2,
    k: int = 10,
) -> DataFrame:
    """Serve top-k from an encoded store: probe the n_probe nearest
    coarse lists (same metric + tiebreak as assignment), build the
    per-query BIGINT ADC LUT, equi-join candidates on the list id,
    score = exact dot(q, centroid) + ADC sum."""
    sq_l2 = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col("cent"),
            lambda x, y: (x - y).cast("bigint") * (x - y).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qdot_c = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col("cent"),
            lambda x, y: x.cast("bigint") * y.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    wprobe = Window.partitionBy(q_id).orderBy(
        F.col("__d").asc(), F.col("code").asc()
    )
    probes = (
        queries.crossJoin(F.broadcast(coarse.select("code", "cent")))
        .withColumn("__d", sq_l2)
        .withColumn("__dot_c", qdot_c)
        .withColumn("__pr", F.row_number().over(wprobe))
        .filter(F.col("__pr") <= n_probe)
        .select(q_id, vec_col, F.col("code").alias("__list"), "__dot_c")
    )

    # per-query ADC LUT over the residual codebook (raw query segments
    # x residual centroids — dot(q, r~) decomposes segment-wise)
    sd = dim // m_segments
    rmap = _codebook_map(rcb, k_codes)

    def lut_entry(j):
        m = _floor_div(j.cast("bigint"), F.lit(k_codes).cast("bigint"))
        cent = F.element_at(F.col("__cb"), j.cast("int"))
        return F.aggregate(
            F.zip_with(
                F.slice(F.col(vec_col), (m * sd + 1).cast("int"), sd), cent,
                lambda x, y: x.cast("bigint") * y.cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m_segments * k_codes - 1)), lut_entry
    )
    probes_lut = (
        probes.crossJoin(F.broadcast(rmap))
        .withColumn("__lut", lut)
        .select(q_id, "__list", "__dot_c", "__lut")
    )

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m_segments - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, m: acc
        + F.element_at(
            F.col("__lut"),
            (m * k_codes
             + F.element_at(F.col("__codes"), (m + 1).cast("int")) + 1).cast("int"),
        ),
    )
    scored = (
        enc.join(F.broadcast(probes_lut), "__list")
        .filter(F.col(q_id) != F.col("c_id"))
        .withColumn("score", F.col("__dot_c") + adc)
    )
    wk = Window.partitionBy(q_id).orderBy(F.col("score").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= k)
        .select(q_id, "c_id", "score", F.col("rk").cast("int").alias("rk"))
    )


def ivfpq_topk(
    quantized: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q_vec",
    q_id: str = "q_id",
    n_lists: int = 16,
    m_segments: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    n_probe: int = 2,
    k: int = 10,
    coarse_iterations: int = 0,
    pq_iterations: int = 0,
) -> DataFrame:
    """IVF-PQ — the FAISS IVFADC composition (Jégou et al. 2011 §IV):
    coarse integer k-means partitions vectors into inverted lists;
    each vector stores only its list id + the PQ codes of its
    RESIDUAL (vector − list centroid). Queries probe the ``n_probe``
    nearest lists and score candidates as

        score(q, v) ≈ dot(q, c_list)  [exact, per probed list]
                    + Σ_m LUT[m, code_m]  [ADC over residual codebook]

    which follows from dot(q, c + r̃) with r̃ the PQ-decoded residual.

    Billion-scale shape: candidate generation is an EQUI-JOIN on the
    list id (probed lists only — at 100 TB the lists are partition
    directories and pruning applies, like build_ivf_index); per
    candidate the score is m map lookups, never a d-dim fold; every
    stage reuses the PQ primitives (broadcast codebook maps,
    zero-shuffle encode). All arithmetic is exact BIGINT on int8
    inputs, so with seed codebooks (iterations=0) the whole index —
    coarse assignment, residuals, residual codes, probing, scoring,
    ranking — replays exactly in ANSI SQL (x3_ivfpq_topk oracle);
    trained codebooks are pinned by recall pytest instead.

    Composition of the lifecycle stages (ivfpq_codebooks →
    ivfpq_encode → ivfpq_query); t19 runs the SAME stages with the
    encode step under streaming ingest.
    """
    coarse, rcb = ivfpq_codebooks(
        quantized, id_col, vec_col, n_lists, m_segments, k_codes, dim,
        coarse_iterations, pq_iterations,
    )
    enc = ivfpq_encode(
        quantized, coarse, rcb, id_col, vec_col,
        n_lists, m_segments, k_codes, dim,
    )
    return ivfpq_query(
        queries, enc, coarse, rcb, q_id, vec_col,
        m_segments, k_codes, dim, n_probe, k,
    )


def pool_embeddings(
    embeddings: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    out_col: str = "pooled",
) -> DataFrame:
    """Mean-pool vectors per group — the chunk→document aggregation
    step of a retrieval pipeline (chunk_documents → embed chunks →
    pool back to one vector per document). posexplode + groupBy
    (group, dim) shuffles (group, dim, component) triples — never a
    whole matrix to one task — and partial aggregation combines
    map-side.

    Order-independence: float summation depends on shuffle arrival
    order, so components quantize to a 1e-12 fixed-point BIGINT grid
    (round ties-away matches across engines, unlike double→DECIMAL
    casts whose rounding mode differs), sum exactly, and divide back
    once. Identical result on any partitioning, any retry — and
    oracle-replayable (x3_embedding_pool)."""
    ex = embeddings.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "__pos", "__x"
        ),
    )
    per_dim = (
        ex.groupBy(group_col, "__pos")
        .agg(
            F.sum(
                F.round(F.col("__x") * F.lit(1e12), 0).cast("bigint")
            ).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .withColumn(
            "__m",
            F.col("__s").cast("double")
            / F.col("__n").cast("double")
            / F.lit(1e12),
        )
    )
    return (
        per_dim.groupBy(group_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", "__m"))
            ).alias("__pm")
        )
        .select(
            group_col,
            F.transform(F.col("__pm"), lambda s: s.getField("__m")).alias(
                out_col
            ),
        )
    )


def semantic_dedup(
    quantized: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q_vec",
    n_clusters: int = 16,
    dim: int = 64,
    min_dot: int = 15300,
    cluster_iterations: int = 0,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    near-duplicate PRUNING over an embedding column, the
    embedding-space member of the dedup ladder (X2 minhash/simhash
    prune lexical duplicates; this prunes paraphrases and
    re-renderings that share no n-grams).

    The paper's shape, Spark-first: (1) k-means partitions the
    corpus into clusters, (2) pairwise cosine similarity is computed
    ONLY within a cluster, (3) of each pair above the threshold, the
    member MOST similar to its cluster centroid is dropped — keeping
    the outlier preserves diversity (the paper's keeper rule).
    Clustering is what makes the quadratic step tractable: the pair
    join is an equi-join on cluster_id, so cost is Σ|cluster|², not
    n² — at 100 TB, n_clusters scales with the corpus so cluster
    sizes stay bounded (the paper uses ~100k clusters for web-scale
    text), and training the coarse quantizer on a sample keeps the
    bootstrap cheap.

    Exact-integer composition over int8-quantized vectors
    (quantize_embeddings): cluster assignment = pq_encode with m=1
    (BIGINT squared-L2 argmin, ties to the lowest cluster),
    centroid-redundancy score and pair similarity = BIGINT dot
    products, drop rule ties broken by the larger id. With seed
    centroids (``cluster_iterations=0``) every stage replays in ANSI
    SQL — the corpus oracle (x3_semdedup) re-runs the whole pipeline
    exactly; trained-centroid variants are pinned by pytest instead.
    ``min_dot`` is on the integer-dot scale: cos(θ) ≈ dot/127² for
    unit-norm inputs, so 15300 ≈ cosine 0.95. Returns survivors as
    (id, cluster_id)."""
    coarse = pq_codebooks(
        quantized, id_col, vec_col,
        m_segments=1, k_codes=n_clusters, dim=dim,
        iterations=cluster_iterations,
    )
    # Pinned (r13): ``scored`` feeds both sides of the within-cluster
    # pair join AND the final anti-join — unpinned, the quantize +
    # encode + centroid-dot projection (interpreted HOF dots) re-ran
    # per consumer (the before plan re-scanned the embeddings 18x).
    # Measured 2.29 -> 2.04 s at sf0.1, identical survivors.
    scored = pin(
        semdedup_assign(quantized, coarse, id_col, vec_col, n_clusters, dim)
    )
    drops = semdedup_drops(
        scored, scored, id_col, vec_col, min_dot, ordered_pairs=True
    )
    return scored.join(drops, id_col, "left_anti").select(
        id_col, "cluster_id"
    )


def semdedup_assign(
    quantized: DataFrame,
    coarse: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q_vec",
    n_clusters: int = 16,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup's per-row stage against FIXED coarse centroids:
    cluster assignment (pq_encode m=1 argmin) plus the BIGINT
    centroid-redundancy dot — map-only over the data side (broadcast
    codebook map), so a streaming ingest can score each micro-batch
    independently and agree exactly with a batch run (t25, the t19
    bootstrap-once/encode-per-batch lifecycle). Returns the input
    plus (cluster_id, __cdot)."""
    assigned = (
        pq_encode(
            quantized, coarse, id_col, vec_col,
            m_segments=1, k_codes=n_clusters, dim=dim, out_col="__list",
        )
        .withColumn("cluster_id", F.element_at("__list", 1))
        .drop("__list")
    )
    cmap = _codebook_map(coarse, n_clusters)
    centdot = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.element_at(F.col("__cb"), F.col("cluster_id")),
            lambda x, y: x.cast("bigint") * y.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        assigned.crossJoin(F.broadcast(cmap))
        .withColumn("__cdot", centdot)
        .drop("__cb")
    )


def semdedup_drops(
    scored_left: DataFrame,
    scored_right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q_vec",
    min_dot: int = 15300,
    ordered_pairs: bool = False,
) -> DataFrame:
    """The drop decision over every within-cluster pair between two
    scored sides (semdedup_assign outputs): of each pair above the
    threshold, drop the member closest to its centroid (ties to the
    larger id). Pair decisions are LOCAL — a pair's verdict doesn't
    depend on which run formed it — so accumulating drops batch by
    batch (each unordered pair forms exactly once, when its later
    member arrives, or twice with identical verdicts when both sit
    in the same batch against the accumulated store) yields the
    IDENTICAL drop set to one all-at-once run; t25 rests on exactly
    that. When BOTH sides are the same full set (the batch
    self-join), pass ``ordered_pairs=True`` so each pair is scored
    once (canonical id_a < id_b) instead of in both orientations —
    half the refine work, same distinct drop set. Returns distinct
    dropped ids."""
    a = scored_left.select(
        "cluster_id",
        F.col(id_col).alias("__a_id"),
        F.col(vec_col).alias("__a_v"),
        F.col("__cdot").alias("__a_cd"),
    )
    b = scored_right.select(
        "cluster_id",
        F.col(id_col).alias("__b_id"),
        F.col(vec_col).alias("__b_v"),
        F.col("__cdot").alias("__b_cd"),
    )
    pdot = F.aggregate(
        F.zip_with(
            F.col("__a_v"), F.col("__b_v"),
            lambda x, y: x.cast("bigint") * y.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pair_pred = (
        (F.col("__a_id") < F.col("__b_id"))
        if ordered_pairs
        else (F.col("__a_id") != F.col("__b_id"))
    )
    return (
        a.join(b, "cluster_id")
        .filter(pair_pred)
        .withColumn("__pd", pdot)
        .filter(F.col("__pd") >= F.lit(min_dot))
        .select(
            F.when(F.col("__a_cd") > F.col("__b_cd"), F.col("__a_id"))
            .when(F.col("__b_cd") > F.col("__a_cd"), F.col("__b_id"))
            .otherwise(F.greatest(F.col("__a_id"), F.col("__b_id")))
            .alias(id_col)
        )
        .distinct()
    )


def mrl_recall_sweep(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple = (8, 16, 32, 64),
    k: int = 10,
    n_queries: int = 10,
    n_levels: int = 127,
) -> DataFrame:
    """MATRYOSHKA truncation sweep (Kusupati et al. 2022, MRL): score
    retrieval with only the first d dimensions of each embedding for
    every d in ``dims`` and report top-k overlap against the full-dim
    ranking — the tuning table for the dimension-vs-recall trade an
    MRL-style embedding store exposes (prefix dims are 8x less scan
    and shuffle at d=8/64, the same lever as int8 quantization, and
    the two compose).

    ONE plan: quantize once (int8 — exact BIGINT prefix dots, no
    float summation anywhere, so the whole sweep is oracle-exact like
    x3_pq_distortion_sweep), explode the pair stream by the dims
    list, rank per (dims, query), left-join the full-dim reference
    top-k, count hits. Returns (dims, q_id, n_overlap, recall); the
    dims = max row is the k/k sanity diagonal. At scale the pair
    stream is whatever candidate generation feeds scoring (IVF lists,
    LSH buckets) — the sweep shape is unchanged."""
    full_dim = max(dims)
    qz = quantize_embeddings(embeddings, vec_col, "q_vec", n_levels)
    qs = qz.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col("q_vec").alias("qa")
    )
    cs = qz.select(F.col(id_col).alias("c_id"), F.col("q_vec").alias("qb"))
    pairs = (
        qs.crossJoin(cs)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.explode(F.array(*[F.lit(int(d)) for d in dims])).alias(
                "dims"
            ),
            "qa",
            "qb",
        )
    )
    dot_d = F.aggregate(
        F.zip_with(
            F.slice(F.col("qa"), F.lit(1), F.col("dims")),
            F.slice(F.col("qb"), F.lit(1), F.col("dims")),
            lambda x, y: x.cast("bigint") * y.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("dims", "q_id").orderBy(
        F.col("qdot").desc(), F.col("c_id").asc()
    )
    ranked = (
        pairs.withColumn("qdot", dot_d)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("dims", "q_id", "c_id")
    )
    full_ref = (
        ranked.filter(F.col("dims") == full_dim)
        .select("q_id", "c_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        ranked.join(full_ref, ["q_id", "c_id"], "left")
        .groupBy("dims", "q_id")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_overlap")
        )
        .withColumn(
            "recall",
            F.col("n_overlap").cast("double") / F.lit(float(k)),
        )
    )


def binary_quantize(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    lo_col: str = "b_lo",
    hi_col: str = "b_hi",
) -> DataFrame:
    """1-bit binary quantization: bit j = sign(v_j) > 0, packed into
    two 32-bit words (lo = dims 1-32, hi = dims 33-64) carried as
    BIGINTs. The bottom rung of the embedding-memory ladder already
    in this module (float32 → int8 ×4 → PQ ×32 → 1-bit ×32 vs int8):
    a 64-dim vector becomes 8 bytes, and candidate scoring is two
    XOR+popcounts — the cheapest full-scan prefilter a vector store
    ships (Qdrant/Weaviate-style BQ). Two words, not one, so the
    packing never touches a signed BIGINT's top bit.

    Exactness: a float comparison ``v_j > 0`` and a sum of literal
    power-of-two constants are bit-identical in any engine — the
    packed words are oracle-exact with no rounding caveat."""
    v = F.col(vec_col)

    def pack(lo_dim: int) -> Column:
        out = F.lit(0).cast("bigint")
        for j in range(32):
            out = out + F.when(
                F.element_at(v, lo_dim + j) > F.lit(0.0),
                F.lit(1 << j).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        return out

    return embeddings.withColumn(lo_col, pack(1)).withColumn(
        hi_col, pack(33)
    )


def binary_hamming_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    m_rerank: int = 64,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    round_sim: int | None = 6,
) -> DataFrame:
    """Binary-quantized two-stage ANN: Hamming distance over the
    1-bit codes prefilters each query's candidate set to the best
    ``m_rerank`` (XOR+popcount on two longs per pair — the cheap
    full scan), then exact cosine reranks only those to the final
    top-``k``. Both stages rank with a deterministic (score, id)
    order; sides must carry binary_quantize's (b_lo, b_hi).

    At 100 TB the Hamming stage is the one that touches every
    candidate, and its operand is 8 bytes/vector — 32× less scan and
    shuffle than the float refine it gates; compose with the IVF
    lists for sub-linear candidate generation (codes live inside the
    inverted lists, the standard BQ serving layout)."""
    ham = F.bit_count(
        F.col("__qlo").bitwiseXOR(F.col("__clo"))
    ) + F.bit_count(F.col("__qhi").bitwiseXOR(F.col("__chi")))
    qn = queries.withColumnRenamed("b_lo", "__qlo").withColumnRenamed(
        "b_hi", "__qhi"
    )
    cn = candidates.withColumnRenamed("b_lo", "__clo").withColumnRenamed(
        "b_hi", "__chi"
    )
    pre_w = Window.partitionBy(q_id).orderBy(
        F.col("hamming").asc(), F.col(c_id).asc()
    )
    pre = (
        qn.crossJoin(cn)
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("hamming", ham.cast("int"))
        .withColumn("__pr", F.row_number().over(pre_w))
        .filter(F.col("__pr") <= m_rerank)
    )
    sim = dot(F.col(q_vec), F.col(c_vec)) / (
        norm2(F.col(q_vec)) * norm2(F.col(c_vec))
    )
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    rank_w = Window.partitionBy(q_id).orderBy(
        F.col("sim").desc(), F.col(c_id).asc()
    )
    return (
        pre.withColumn("sim", sim)
        .withColumn("rk", F.row_number().over(rank_w))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "hamming", "sim", F.col("rk").cast("int").alias("rk"))
    )


def mmr_rerank(
    queries: DataFrame | None,
    candidates: DataFrame,
    k_pool: int = 20,
    k_select: int = 5,
    lam_num: int = 7,
    lam_den: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    pool: DataFrame | None = None,
    pair_sim=None,
) -> DataFrame:
    """Maximal Marginal Relevance diversified re-ranking (Carbonell
    & Goldstein, SIGIR 1998) — the diversity stage between ANN
    retrieval and RAG context assembly: from each query's ``k_pool``
    cosine candidates, greedily select ``k_select`` by

        argmax_d  λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)

    so near-duplicate passages stop crowding the context window.

    Determinism/scale shape: relevance and the pool come from
    :func:`cosine_topk_bruteforce` (6-dp-rounded sims, unique id
    tiebreak); candidate-candidate sims are computed ONCE per query
    over the pool (k_pool·(k_pool−1) rows per query — pool-sized,
    never corpus-sized) with the same fold; both round to 1e-6
    fixed-point BIGINTs, and with λ = lam_num/lam_den the greedy
    score is the EXACT integer lam_num·rel_fp − (lam_den−lam_num)·
    max_sim_fp, so every round's (score desc, id asc) argmax is
    engine- and partitioning-independent. The loop is ``k_select``
    driver-side plan compositions (no collects); each round is one
    per-query max + one per-query ranking window over ≤ k_pool rows
    per query — high-cardinality query partitions, never a global
    sort. Pool and pair tables are pinned.
    Returns (q_id, c_id, mmr_rank, rel_fp, score_fp).

    Composition hooks (the flagship_rag_context path): ``pool`` — a
    precomputed relevance pool (q_id, c_id, rel_fp BIGINT) from any
    certified retrieval stage (e.g. int8 quantized_dot_topk), which
    skips the brute-force cosine stage (``queries`` may then be
    None); ``pair_sim`` — a callable (va, vb) -> similarity Column
    (pre-rounding) replacing the float-cosine candidate-candidate
    metric, so an int8-store pipeline can keep the WHOLE stage on
    quantized vectors. Defaults preserve the certified
    x3_mmr_rerank behavior bit-for-bit."""
    if pool is None:
        pool = (
            cosine_topk_bruteforce(
                queries, candidates, k=k_pool,
                q_id=q_id, q_vec=q_vec, c_id=c_id, c_vec=c_vec,
            )
            .withColumn(
                "rel_fp",
                F.round(F.col("sim") * 1_000_000, 0).cast("bigint"),
            )
            .select(q_id, c_id, "rel_fp")
            .transform(pin)
        )
    else:
        pool = pin(pool.select(q_id, c_id, "rel_fp"))
    cv = candidates.select(c_id, c_vec)
    a = (
        pool.select(q_id, F.col(c_id).alias("__ia"))
        .join(
            cv.select(
                F.col(c_id).alias("__ia"), F.col(c_vec).alias("__va")
            ),
            "__ia",
        )
    )
    b = (
        pool.select(q_id, F.col(c_id).alias("__ib"))
        .join(
            cv.select(
                F.col(c_id).alias("__ib"), F.col(c_vec).alias("__vb")
            ),
            "__ib",
        )
    )
    if pair_sim is None:
        sim_ab = dot(F.col("__va"), F.col("__vb")) / (
            norm2(F.col("__va")) * norm2(F.col("__vb"))
        )
    else:
        sim_ab = pair_sim(F.col("__va"), F.col("__vb"))
    pairs = (
        a.join(b, q_id)
        .filter(F.col("__ia") != F.col("__ib"))
        .select(
            q_id,
            "__ia",
            "__ib",
            F.round(F.round(sim_ab, 6) * 1_000_000, 0)
            .cast("bigint")
            .alias("__sim_fp"),
        )
        .transform(pin)
    )
    mu = int(lam_den - lam_num)
    selected: DataFrame | None = None
    remaining = pool
    for r in range(1, k_select + 1):
        if selected is None:
            scored = remaining.withColumn(
                "score_fp",
                (F.lit(int(lam_num)) * F.col("rel_fp")).cast("bigint"),
            )
        else:
            ms = (
                remaining.select(q_id, F.col(c_id).alias("__ia"))
                .join(
                    selected.select(q_id, F.col(c_id).alias("__ib")), q_id
                )
                .join(pairs, [q_id, "__ia", "__ib"])
                .groupBy(q_id, "__ia")
                .agg(F.max("__sim_fp").alias("__ms"))
                .select(q_id, F.col("__ia").alias(c_id), "__ms")
            )
            scored = remaining.join(ms, [q_id, c_id]).withColumn(
                "score_fp",
                (
                    F.lit(int(lam_num)) * F.col("rel_fp")
                    - F.lit(mu) * F.col("__ms")
                ).cast("bigint"),
            )
        w = Window.partitionBy(q_id).orderBy(
            F.col("score_fp").desc(), F.col(c_id).asc()
        )
        pick = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                q_id,
                c_id,
                F.lit(r).alias("mmr_rank"),
                "rel_fp",
                "score_fp",
            )
            .transform(pin)
        )
        selected = pick if selected is None else selected.unionByName(pick)
        remaining = remaining.join(
            pick.select(q_id, c_id), [q_id, c_id], "left_anti"
        )
    return selected
