"""Composed RAG CONTEXT-BUILDER — retrieval serving as ONE call,
chaining the engine's retrieval + diversification + dedup +
budgeting operators (each individually oracle-certified; the
composition carries its own end-to-end oracle,
flagship_rag_context):

  1. RETRIEVE      — int8-quantized exact BIGINT dot top-k_pool per
                     query (operators/similarity.py:
                     quantized_dot_topk — the oracle-exact scoring
                     stage; swap in ivf_topk/cosine_topk_lsh for
                     candidate generation at scale, same downstream
                     shape)
  2. MMR DIVERSIFY — Maximal Marginal Relevance greedy re-ranking of
                     each query's pool down to k_select
                     (operators/similarity.py:mmr_rerank with the
                     pool + int8 pair metric plugged in), so
                     near-identical passages stop crowding the
                     context BEFORE the hard dedup; both relevance
                     and candidate-candidate similarity are int8
                     cosines at a 1e-6 fixed point — the whole stage
                     stays on the quantized store
  3. CONTEXT DEDUP — drop a selected doc whose word-n-gram
                     CONTAINMENT vs ANY higher-MMR-ranked doc for
                     the same query crosses the threshold (the
                     belt-and-braces exact-overlap step; containment
                     catches doc-in-doc overlap Jaccard dilutes —
                     x2_containment)
  4. TOKEN BUDGET  — running whitespace-token total over MMR rank
                     order; keep docs while the cumulative count
                     fits

Exactness: dots are BIGINT; int8 cosine = CAST(dot AS DOUBLE) /
(‖a‖·‖b‖) where the norms are correctly-rounded sqrt of exact
integer sums, so the division is one correctly-rounded IEEE op —
bit-identical cross-engine — then rounded to a 1e-6 fixed-point
BIGINT; MMR greedy scores are exact integers (λ = 7/10 split); the
containment threshold compares integers (den·|∩| ≥ num·min — never a
float boundary); token counts and the running budget are BIGINT
sums — the whole composition replays bit-for-bit in SQL.

Scale: per-query work after candidate-bounded retrieval is
k_pool² pair sims + k_select² containment pairs (serving constants,
~8-50) — every join is q_id-equi or doc-id-equi; nothing is
corpus-quadratic. The MMR greedy is k_select driver-side plan
compositions with no collects (similarity.py:mmr_rerank).

The pre-MMR form (retrieve → containment dedup → budget, the shape
certified through round 9) remains below as :func:`rag_context`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _int8_dot(a, b):
    """Exact BIGINT dot over two int8-quantized arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _int8_norm(a):
    """‖a‖ of an int8-quantized array: correctly-rounded sqrt of the
    exact integer sum of squares (bit-identical cross-engine)."""
    return F.sqrt(_int8_dot(a, a).cast("double"))


def int8_store(
    embeddings: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """The pinned serving artifact: (id_col, ..., q_vec, __n8) —
    int8-quantized vectors plus their precomputed norms, the table
    every retrieval/pair stage of :func:`rag_context_mmr` reads.
    Built by one fixed expression tree so a twin that pins it once
    (``session.pin`` / a maintained table at scale) serves
    bit-identically to the one-shot flagship."""
    from eco_pulse_lakehouse_spark.operators.similarity import (
        quantize_embeddings,
    )

    return quantize_embeddings(embeddings, vec_col, "q_vec").withColumn(
        "__n8", _int8_norm(F.col("q_vec"))
    )


def rag_context_mmr(
    embeddings: DataFrame,
    docs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    n_queries: int = 5,
    k_pool: int = 10,
    k_select: int = 5,
    lam_num: int = 7,
    lam_den: int = 10,
    shingle_n: int = 2,
    containment_num: int = 3,
    containment_den: int = 20,
    token_budget: int = 400,
    query_ids: DataFrame | None = None,
    quantized: DataFrame | None = None,
) -> DataFrame:
    """Build the final per-query context table with the MMR
    diversification stage between retrieval and dedup:
    (q_id, mmr_rank, doc_id, rel_fp, n_tokens, cum_tokens) —
    retrieved (int8 top-``k_pool``), MMR-diversified to
    ``k_select``, containment-deduped, budget-trimmed, in MMR rank
    order. Relevance = int8 cosine (exact BIGINT dot over the
    quantized store, one IEEE division by the norm product, 1e-6
    fixed point); the MMR candidate-candidate metric is the same
    int8 cosine via mmr_rerank's ``pair_sim`` hook.

    Serving hooks (the t43 streaming twin): ``query_ids`` — a
    DataFrame of (id_col) selecting THIS request batch's queries
    instead of the default ``id_col < n_queries`` demo predicate
    (every stage is per-q_id independent, so disjoint query batches
    union to the one-shot result verbatim); ``quantized`` — the
    pinned (id_col, q_vec, __n8) int8 store built once by a prior
    call's expression tree, skipping re-quantization per batch (the
    100 TB serving layout: the int8 store is a maintained artifact,
    not a per-request scan of the float vectors)."""
    from eco_pulse_lakehouse_spark.functions.text import (
        token_count,
        word_shingles,
    )
    from eco_pulse_lakehouse_spark.operators.similarity import (
        mmr_rerank,
        quantized_dot_topk,
    )

    qz = int8_store(embeddings, vec_col) if quantized is None else quantized
    qbase = (
        qz.join(query_ids.select(id_col), id_col, "left_semi")
        if query_ids is not None
        else qz.filter(F.col(id_col) < n_queries)
    )
    qs = qbase.select(
        F.col(id_col).alias("q_id"),
        F.col("q_vec").alias("qa"),
        F.col("__n8").alias("__na"),
    )
    cs = qz.select(
        F.col(id_col).alias("c_id"),
        F.col("q_vec").alias("qb"),
        F.col("__n8").alias("__nb"),
    )
    retrieved = quantized_dot_topk(
        qs.select("q_id", "qa"), cs.select("c_id", "qb"),
        k=k_pool, q_vec="qa", c_vec="qb",
    )
    rel = (
        F.round(
            F.round(
                F.col("qdot").cast("double")
                / (F.col("__na") * F.col("__nb")),
                6,
            )
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("rel_fp")
    )
    pool = (
        retrieved.join(qs.select("q_id", "__na"), "q_id")
        .join(cs.select("c_id", "__nb"), "c_id")
        .select("q_id", "c_id", rel)
    )
    selected = mmr_rerank(
        None,
        cs.select("c_id", F.col("qb").alias("c_vec")),
        k_select=k_select,
        lam_num=lam_num,
        lam_den=lam_den,
        pool=pool,
        pair_sim=lambda va, vb: _int8_dot(va, vb).cast("double")
        / (_int8_norm(va) * _int8_norm(vb)),
    )
    sh = selected.join(
        docs.select(
            F.col(doc_id_col).alias("c_id"),
            F.array_distinct(
                word_shingles(F.col(text_col), shingle_n)
            ).alias("__sh"),
            token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        ),
        "c_id",
    )
    a = sh.select(
        F.col("q_id"),
        F.col("mmr_rank").alias("__rk_a"),
        F.col("__sh").alias("__sh_a"),
    )
    b = sh.select(
        F.col("q_id"), F.col("c_id"),
        F.col("mmr_rank").alias("__rk_b"),
        F.col("__sh").alias("__sh_b"),
    )
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    mn = F.least(F.size("__sh_a"), F.size("__sh_b"))
    dups = (
        a.join(b, "q_id")
        .filter(F.col("__rk_a") < F.col("__rk_b"))
        .filter(
            (mn > 0)
            & (
                F.lit(int(containment_den)) * inter
                >= F.lit(int(containment_num)) * mn
            )
        )
        .select("q_id", "c_id")
        .distinct()
    )
    kept = sh.join(dups, ["q_id", "c_id"], "left_anti")
    w = (
        Window.partitionBy("q_id")
        .orderBy(F.col("mmr_rank").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        kept.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("bigint")
        )
        .filter(F.col("cum_tokens") <= token_budget)
        .select(
            "q_id",
            F.col("mmr_rank").cast("int").alias("mmr_rank"),
            F.col("c_id").alias("doc_id"),
            "rel_fp",
            "n_tokens",
            "cum_tokens",
        )
    )


def rag_context(
    embeddings: DataFrame,
    docs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    n_queries: int = 5,
    k: int = 8,
    shingle_n: int = 3,
    containment_num: int = 6,
    containment_den: int = 10,
    token_budget: int = 800,
) -> DataFrame:
    """Build the final per-query context table:
    (q_id, rk, doc_id, n_tokens, cum_tokens) — retrieved, deduped,
    budget-trimmed, in rank order. Containment threshold is the
    rational ``containment_num / containment_den`` (default 0.6),
    compared in integers."""
    from eco_pulse_lakehouse_spark.functions.text import (
        token_count,
        word_shingles,
    )
    from eco_pulse_lakehouse_spark.operators.similarity import (
        quantize_embeddings,
        quantized_dot_topk,
    )

    qz = quantize_embeddings(embeddings, vec_col, "q_vec")
    qs = qz.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col("q_vec").alias("qa")
    )
    cs = qz.select(F.col(id_col).alias("c_id"), F.col("q_vec").alias("qb"))
    retrieved = quantized_dot_topk(
        qs, cs, k=k, q_vec="qa", c_vec="qb"
    ).select("q_id", "c_id", "rk")
    sh = retrieved.join(
        docs.select(
            F.col(doc_id_col).alias("c_id"),
            F.array_distinct(
                word_shingles(F.col(text_col), shingle_n)
            ).alias("__sh"),
            token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        ),
        "c_id",
    )
    a = sh.select(
        F.col("q_id"), F.col("rk").alias("__rk_a"), F.col("__sh").alias("__sh_a")
    )
    b = sh.select(
        F.col("q_id"), F.col("c_id"), F.col("rk").alias("__rk_b"),
        F.col("__sh").alias("__sh_b"),
    )
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    mn = F.least(F.size("__sh_a"), F.size("__sh_b"))
    dups = (
        a.join(b, "q_id")
        .filter(F.col("__rk_a") < F.col("__rk_b"))
        .filter(
            (mn > 0)
            & (
                F.lit(int(containment_den)) * inter
                >= F.lit(int(containment_num)) * mn
            )
        )
        .select("q_id", "c_id")
        .distinct()
    )
    kept = sh.join(dups, ["q_id", "c_id"], "left_anti")
    w = (
        Window.partitionBy("q_id")
        .orderBy(F.col("rk").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        kept.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("bigint")
        )
        .filter(F.col("cum_tokens") <= token_budget)
        .select(
            "q_id",
            F.col("rk").cast("int").alias("rk"),
            F.col("c_id").alias("doc_id"),
            "n_tokens",
            "cum_tokens",
        )
    )
