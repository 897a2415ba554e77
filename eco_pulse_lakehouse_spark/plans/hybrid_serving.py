"""Flagship #10 — HYBRID (keyword + dense) SEARCH SERVING: the shape
every production RAG stack actually runs, composed entirely from the
two certified serving halves:

  keyword half (plans/search_serving.py / flagship #9):
      pinned postings build → PRF-expanded BM25 top-``retriever_k``
  dense half (plans/rag_context.py / flagship #1's int8 store):
      pinned int8 store → exact-BIGINT-dot top-``retriever_k``
      ("more-like-this": the request carries a query vector next to
      its query text)
  → Reciprocal Rank Fusion        (operators/retrieval.py:rrf_fuse —
                                   the stage the two flagships already
                                   shared; here it fuses ACROSS the
                                   modalities instead of within one)
  → per-query token budget cut    (running sum over the fused rank,
                                   token counts from the PINNED
                                   postings — never a corpus rescan)

Why RRF and not score mixing: BM25 fixed-point sums and int8 dot
products live on incomparable scales; RRF needs only RANKS, so the
fusion is calibration-free (Cormack, Clarke & Buettcher 2009) — and
every rank on both sides is already integer/fixed-point exact, so the
whole hybrid DAG replays bit-for-bit in SQL.

The hybrid's value over either half alone is RECALL: a document with
zero literal term overlap is invisible to BM25 but surfaces through
the dense list (and vice versa for exact-term matches the embedding
smooths over). tests/test_northstar.py pins this flip on the real
corpus.

Scale shape: the corpus shuffles ONCE into postings and ONCE into the
int8 store (both maintained artifacts a platform pins — the t49
streaming twin serves request batches against them without touching
either build); every post-index stage is O(queries · retriever_k) —
corpus-size-independent serving, broadcastable at any corpus size.

The reference has no retrieval layer at all (its text surface is
Streamlit display, /root/reference/src/visualization/app.py) — this
is the serving tier a lakehouse adds on top of curated documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.operators.retrieval import (
    bm25_from_postings,
    bm25_shared_stats,
    prf_expand_terms,
    query_terms,
    rrf_fuse,
    term_postings,
)
from eco_pulse_lakehouse_spark.plans.rag_context import int8_store
from eco_pulse_lakehouse_spark.session import local_frame


def hybrid_serving(
    docs: DataFrame,
    embeddings: DataFrame,
    queries: list[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k1: float = 1.2,
    b: float = 0.75,
    fb_k: int = 5,
    n_expand: int = 3,
    retriever_k: int = 20,
    k: int = 10,
    token_budget: int = 300,
    postings: DataFrame | None = None,
    quantized: DataFrame | None = None,
    shared_stats: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Run the hybrid serving DAG for a request batch. Each request
    is (query_id, query_text); its dense form is the int8 store row
    whose ``vec_id_col`` equals the query_id (the more-like-this
    convention — a production stack would embed the query text; the
    fusion, budget, and serving shape are identical). Returns
    (query_id, doc_id, rrf_score, rk, n_tokens, cum_tokens) — the
    cross-modality fused rank per query, cut at the first
    ``token_budget`` tokens (inclusive running sum in rank order, the
    search_serving/rag_context budget convention).

    Serving hooks (the t49 streaming twin): ``postings`` — the
    pre-built (id, term, tf) keyword index; ``quantized`` — the
    pinned (vec_id, q_vec, __n8) int8 store. With both supplied, a
    request batch never touches the corpus: every stage is per-query
    independent, so disjoint request batches union to the one-shot
    batch result verbatim."""
    spark = docs.sparkSession
    # request frames are driver-local relations (LocalTableScan):
    # deduped in the driver, so a batch pays no Python-worker scan and
    # no Distinct shuffle before the broadcast onto postings
    q_terms = query_terms(spark, queries)
    if postings is None:
        # maintained keyword index: PRF + scoring + budget all read it
        postings = term_postings(docs, id_col, text_col).localCheckpoint(
            eager=True
        )
    if quantized is None:
        # NOT pinned, measured (the SCALE.md pin rule): the store is
        # a map-only quantize+norm projection over the embeddings
        # scan — no shuffle in the subtree — and the pinned form
        # benched 7% SLOWER at sf0.1 (4.98 vs 4.67 s; the simhash
        # class, materialization exceeds recompute). Serving paths
        # that reuse the store across requests pass a pinned
        # ``quantized`` (t49/t50) — that is where pinning pays.
        quantized = int8_store(embeddings, vec_col)

    # --- keyword half: PRF-expanded BM25 (the flagship-#9 recall
    # pass — its expression tree verbatim). dl/df_t/stats computed
    # once for the whole DAG (r13, guide §2.4) instead of per stage;
    # a long-lived serving loop (t49/t52) passes the triple it
    # maintains next to the postings store so request batches don't
    # re-pin dl/df_t per batch (r14, ADVICE r13).
    if shared_stats is None:
        shared_stats = bm25_shared_stats(postings, id_col)
    dl, df_t, stats = shared_stats
    expansion = prf_expand_terms(
        postings, q_terms, id_col, k1, b, fb_k, n_expand,
        dl=dl, df_t=df_t, stats=stats,
    )
    kw = bm25_from_postings(
        postings, id_col, q_terms.union(expansion), k1, b, retriever_k,
        dl=dl, df_t=df_t, stats=stats,
    )

    # --- dense half: exact BIGINT int8 dot top-k over the pinned
    # store (flagship #1's scoring stage; self-match excluded — the
    # query vector IS a corpus row under more-like-this) ---
    from eco_pulse_lakehouse_spark.operators.similarity import (
        quantized_dot_topk,
    )

    qids = local_frame(
        spark, [(qid,) for qid, _ in queries], f"{vec_id_col} long"
    )
    dq = quantized.join(F.broadcast(qids), vec_id_col, "left_semi").select(
        F.col(vec_id_col).alias("q_id"), F.col("q_vec").alias("qa")
    )
    dc = quantized.select(
        F.col(vec_id_col).alias("c_id"), F.col("q_vec").alias("qb")
    )
    dense = quantized_dot_topk(
        dq, dc, k=retriever_k, q_vec="qa", c_vec="qb"
    ).select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias(id_col),
        F.col("rk").cast("bigint").alias("rk"),
    )

    # --- cross-modality fusion + budget (both stages certified:
    # rrf_fuse is flagship #9's combiner; n_tokens = sum(tf) over the
    # pinned postings equals token_count under the shared tokenizer) --
    fused = rrf_fuse(kw, dense, id_col=id_col, k=k)
    # n_tokens IS the shared dl (same sum(tf)-per-doc aggregation).
    toks = dl.select(
        id_col, F.col("dl").cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.col("rk").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        fused.join(toks, id_col)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= token_budget)
        .select(
            "query_id", id_col, "rrf_score", "rk", "n_tokens", "cum_tokens"
        )
    )
