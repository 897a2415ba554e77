"""Flagship #9 — keyword SEARCH SERVING: the query-side pipeline a
retrieval platform runs per request batch, composed entirely from
certified stages:

  postings build (ONE, localCheckpoint-pinned — the maintained index)
  → PRF-expanded BM25 top-20        (retrieval.py:prf_expand_terms)
  → term-overlap top-20              (the rank-divergent 2nd retriever)
  → Reciprocal Rank Fusion           (retrieval.py:rrf_fuse)
  → per-query token budget cut       (running sum over the fused rank)

The dense-vector twin is plans/rag_context.py (ANN pool → MMR →
containment → budget); together they cover both halves of a hybrid
serving stack. Scale shape: the corpus shuffles into postings ONCE
and every later stage works on O(queries · k) rows — broadcastable at
any corpus size; the budget window partitions by query over ≤ k rows.

The reference has no retrieval layer at all (its text surface is
Streamlit display, /root/reference/src/visualization/app.py) — this
is the serving side a lakehouse adds on top of curated documents.
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
    term_overlap_from_postings,
    term_postings,
)


def search_serving(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    fb_k: int = 5,
    n_expand: int = 3,
    retriever_k: int = 20,
    k: int = 10,
    token_budget: int = 300,
    postings: DataFrame | None = None,
    shared_stats: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Run the full serving DAG for a literal query batch. Returns
    (query_id, doc_id, rrf_score, rk, n_tokens, cum_tokens) — the
    fused rank order per query, cut at the first ``token_budget``
    tokens (inclusive running sum in rank order, the rag_context
    budget convention).

    Serving hook (the t47 streaming twin): ``postings`` — a
    pre-built (id, term, tf) index (the maintained artifact) so a
    request stream never re-tokenizes the corpus; every stage is
    per-query independent, so disjoint request batches union to the
    one-shot batch result verbatim."""
    q_terms = query_terms(docs.sparkSession, queries)
    if postings is None:
        # the maintained index artifact: ~8 plan consumers downstream
        postings = term_postings(docs, id_col, text_col).localCheckpoint(
            eager=True
        )
    # dl/df_t/stats once for the WHOLE DAG (r13, guide §2.4): the PRF
    # feedback pass, the final BM25 pass and the budget token counts
    # each re-aggregated the full postings pin before this.
    # ``shared_stats`` (r14, ADVICE r13): a LONG-LIVED serving loop
    # (the t47 per-request-batch twin) passes the triple it maintains
    # next to the postings store, so a request batch neither re-pins
    # dl/df_t (leaked blocks per batch) nor pays their eager
    # materialization jobs per batch.
    if shared_stats is None:
        shared_stats = bm25_shared_stats(postings, id_col)
    dl, df_t, stats = shared_stats
    expansion = prf_expand_terms(
        postings, q_terms, id_col, k1, b, fb_k, n_expand,
        dl=dl, df_t=df_t, stats=stats,
    )
    qt2 = q_terms.union(expansion)
    bm = bm25_from_postings(
        postings, id_col, qt2, k1, b, retriever_k,
        dl=dl, df_t=df_t, stats=stats,
    )
    ov = term_overlap_from_postings(postings, id_col, q_terms, retriever_k)
    fused = rrf_fuse(bm, ov, id_col=id_col, k=k)
    # Token counts come from the PINNED index, not a corpus rescan:
    # sum(tf) per doc over term_postings equals token_count(text)
    # under the shared tokens() tokenizer, and every fused doc has
    # >= 1 postings row (it matched a query term), so the inner join
    # below is row-identical to the docs-derived form. This keeps the
    # t47 request stream's per-batch work index-only. n_tokens IS the
    # shared dl (same sum(tf)-per-doc aggregation, just re-typed).
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
