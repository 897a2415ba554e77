"""Term-relevance / vocabulary operators — inverted-index shaped
(north-star X4 adjacency: the keyword-side retrieval a curation
pipeline runs next to embedding ANN; SURVEY.md §2.11).

The reference has no retrieval layer at all (its only text handling
is Streamlit display, /root/reference/src/visualization/app.py); a
training-data engine needs term statistics for quality filtering,
keyword search, and vocabulary budgeting. Everything here is the
classic inverted-index decomposition:

  explode(tokens) → (doc, term) partial counts   [map-side combine]
  → per-term document frequency                   [vocabulary-sized]
  → broadcast the term table back onto postings   [no fact shuffle]

Scale: the only shuffles carry (doc_id, term, count) rows — never
document payloads — and the per-term side (document frequency, the
vocabulary) is vocabulary-sized, i.e. tiny relative to the corpus,
so the join back onto postings is a broadcast. That is the shape
that survives 100 TB: shuffle volume is O(postings), per-executor
state is O(vocabulary).

Parity note: idf uses ln(), which is NOT bit-identical between JVM
Math.log and DuckDB's libm (~1% of values differ by 1 ulp —
measured); scores are therefore rounded to 6 decimals on both sides
(rounding irrationals never straddles a .5 boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.functions.text import tokens
from eco_pulse_lakehouse_spark.session import local_frame


def query_terms(
    spark: SparkSession, queries: list[tuple[int, str]]
) -> DataFrame:
    """The distinct (query_id, term) pairs of a literal query batch,
    split on single spaces, as a driver-local relation. Deduped in
    the driver (first-seen order), so the plan carries no
    ``Distinct`` shuffle and no Python-worker scan — the frame is a
    ``LocalTableScan`` that broadcasts straight onto postings."""
    pairs = dict.fromkeys(
        (qid, t) for qid, qtext in queries for t in qtext.split(" ")
    )
    return local_frame(spark, pairs, "query_id long, term string")


def term_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, term, tf) postings — explode then count. The explode is
    map-local; the groupBy is the one shuffle and carries short rows."""
    return (
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_topk_terms(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf,
    idf = ln(N/df), deterministic tiebreak on the term string.

    Two aggregations (postings, then document frequency — the second
    input is already one row per (doc, term), so df is a cheap
    re-aggregation), a broadcast join of the vocabulary-sized df
    table, and one ranking window partitioned by document. Scores are
    rounded to 6 decimals for cross-engine reproducibility (ln is
    1-ulp unstable across libm implementations).
    """
    postings = term_postings(docs, id_col, text_col)
    n_docs = docs.select(
        F.count(F.lit(1)).cast("double").alias("__n_docs")
    )
    df_t = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored = (
        postings.join(F.broadcast(df_t), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("__n_docs") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(
            id_col,
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "score",
            F.col("term_rank").cast("bigint").alias("term_rank"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    queries: list[tuple[int, str]],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval: top-k documents per query for a literal
    query batch (Robertson/Sparck-Jones idf with the Lucene +1 floor).

      score(q, d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
      idf(t)      = ln((N − df + 0.5)/(df + 0.5) + 1)

    Same inverted-index scale shape as tf·idf: one postings shuffle
    of short rows, a vocabulary-sized df table, and a broadcast of
    the (tiny) driver-local query-term relation (:func:`query_terms`)
    onto postings — the corpus is never re-shuffled per query, so a
    1000-query batch costs the same shuffle as one query.

    Cross-engine determinism: idf is rounded to 6 decimals (ln is
    1-ulp unstable across libms; irrationals are boundary-safe),
    then each term's contribution — a product/quotient of now
    bit-identical doubles, IEEE-deterministic — is quantized to a
    1e-6 fixed-point BIGINT so the per-query SUM is integer and
    therefore independent of Spark's partial-aggregation order
    (the g1_pagerank trick; doubles summed in different orders
    differ in the last ulp)."""
    q_terms = query_terms(docs.sparkSession, queries)
    return _bm25_score(docs, id_col, text_col, q_terms, k1, b, k)


def _bm25_score(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    q_terms: DataFrame,
    k1: float,
    b: float,
    k: int,
    pin: bool = True,
) -> DataFrame:
    """Shared BM25 scoring core over a (query_id, term) DataFrame.
    Fixed-point contributions — see :func:`bm25_topk` for the
    determinism contract. ``k <= 0`` keeps every matched candidate
    (callers that re-rank, e.g. the phrase-boost variant, cut later
    — the top-k window must run AFTER any score adjustment).

    The postings build is PINNED (r13): unpinned, its explode +
    groupBy re-ran once per consumer — dl, df_t and the contribution
    join each re-tokenized the corpus (4 text scans in the x4_bm25
    before plan); the shared lazy (dl, df_t, stats) triple then
    derives from the one pin. ``pin=False`` (r14, ADVICE r13) is the
    escape hatch for plan-inspection and long-lived-session callers:
    the eager localCheckpoint otherwise runs the full tokenize +
    shuffle job at DataFrame-CONSTRUCTION time and its blocks are
    never auto-released (the dedup pin contract)."""
    postings = term_postings(docs, id_col, text_col)
    if pin:
        postings = postings.localCheckpoint(eager=True)
    dl, df_t, stats = bm25_shared_stats(postings, id_col, pin=False)
    return bm25_from_postings(
        postings, id_col, q_terms, k1, b, k, dl=dl, df_t=df_t, stats=stats
    )


def bm25_shared_stats(
    postings: DataFrame, id_col: str, pin: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The ``(dl, df_t, stats)`` triple every BM25-family consumer
    re-derives from postings, computed ONCE (r13, guide §2.4): a
    PRF serving DAG aggregates the full postings table for per-doc
    lengths and per-term document frequencies in the feedback pass,
    again in the final pass, and a third time for budget token
    counts — each a full-postings shuffle. ``pin=True``
    localCheckpoints the doc-sized ``dl`` and vocab-sized ``df_t``
    (persist() on a real cluster — both are index-sized artifacts a
    serving platform maintains next to the postings themselves);
    ``stats`` is a 1-row aggregate over ``dl`` and stays lazy.
    Expressions are exactly the per-call forms, so scores are
    unchanged."""
    dl = postings.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    df_t = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    if pin:
        dl = dl.localCheckpoint(eager=True)
        df_t = df_t.localCheckpoint(eager=True)
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "__avgdl"
        ),
    )
    return dl, df_t, stats


def bm25_from_postings(
    postings: DataFrame,
    id_col: str,
    q_terms: DataFrame,
    k1: float,
    b: float,
    k: int,
    dl: DataFrame | None = None,
    df_t: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """BM25 scoring from a ``(id, term, tf)`` POSTINGS table — split
    out of :func:`_bm25_score` because postings are LINEAR partials
    when documents partition across batches (each doc's tf rows are
    complete within its batch, so the index is a plain union) —
    which is what lets a streaming ingest maintain the search index
    incrementally and serve the exact batch ranking
    (t32_stream_bm25). dl / df / corpus stats all derive from the
    postings alone; multi-stage callers pass a
    :func:`bm25_shared_stats` triple so the derivation runs once per
    DAG instead of once per stage."""
    if dl is None:
        dl = postings.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    if stats is None:
        stats = dl.agg(
            F.count(F.lit(1)).cast("double").alias("__n_docs"),
            (
                F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("__avgdl"),
        )
    if df_t is None:
        df_t = postings.groupBy("term").agg(
            F.count(F.lit(1)).cast("double").alias("df")
        )
    idf = F.round(
        F.log(
            (F.col("__n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    tf_d = F.col("tf").cast("double")
    sat = (tf_d * F.lit(k1 + 1.0)) / (
        tf_d
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.col("__avgdl")
        )
    )
    contrib = (
        postings.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(df_t), "term")
        .join(dl, id_col)
        .join(F.broadcast(stats))
        .select(
            "query_id",
            F.col(id_col),
            F.floor(idf * sat * F.lit(1e6)).cast("bigint").alias("c_fp"),
        )
    )
    scored = contrib.groupBy("query_id", id_col).agg(
        F.sum("c_fp").alias("score_fp"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
    )
    if k <= 0:
        return scored
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_fp").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            id_col,
            "score_fp",
            "n_terms_matched",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def term_overlap_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Boolean / coordinate-match retrieval: rank documents by how
    many DISTINCT query terms they contain (then total matched tf,
    then id) — the classic second retriever next to BM25 in a hybrid
    stack, and deliberately rank-divergent from it (no idf, no
    length normalization). Same inverted-index shape: one postings
    shuffle, broadcast query terms, all-integer scores — exactly
    SQL-replayable."""
    q_terms = query_terms(docs.sparkSession, queries)
    postings = term_postings(docs, id_col, text_col)
    return term_overlap_from_postings(postings, id_col, q_terms, k)


def term_overlap_from_postings(
    postings: DataFrame,
    id_col: str,
    q_terms: DataFrame,
    k: int = 10,
) -> DataFrame:
    """:func:`term_overlap_topk` from a ``(id, term, tf)`` POSTINGS
    table — the bm25_from_postings split, so a serving pipeline can
    run both retrievers off ONE shared postings build."""
    scored = (
        postings.join(F.broadcast(q_terms), "term")
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.sum("tf").cast("bigint").alias("total_tf"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_matched").desc(),
        F.col("total_tf").desc(),
        F.col(id_col).asc(),
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", id_col, "n_matched", "total_tf",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rk",
    rrf_k: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009) of
    two ranked lists: ``rrf(d) = Σ_lists 1/(rrf_k + rank_list(d))``
    over the lists d appears in — the standard hybrid-retrieval
    combiner (BM25 + dense, or any pair) because it needs only RANKS,
    never score calibration across retrievers.

    Shape: a full-outer equi-join of the two (query, doc, rank)
    lists — both already top-N-truncated, so the join input is
    O(queries · N), trivially broadcastable at any corpus size; the
    corpus itself is never touched again. Determinism: each term is
    ``1.0/(rrf_k + integer rank)`` — identical IEEE doubles in any
    engine — summed in a FIXED two-term order and rounded to 9dp
    before ranking, so the fused order (score desc, id asc) is
    engine-exact."""
    a = ranked_a.select(
        query_col, id_col, F.col(rank_col).alias("__ra")
    )
    b = ranked_b.select(
        query_col, id_col, F.col(rank_col).alias("__rb")
    )
    fused = a.join(b, [query_col, id_col], "full_outer")

    def _term(c):
        return F.when(
            c.isNotNull(),
            F.lit(1.0) / (F.lit(float(rrf_k)) + c.cast("double")),
        ).otherwise(F.lit(0.0))

    rrf = F.round(_term(F.col("__ra")) + _term(F.col("__rb")), 9)
    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    )
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            query_col, id_col, "rrf_score",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def prf_expand_terms(
    postings: DataFrame,
    q_terms: DataFrame,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    fb_k: int = 5,
    n_expand: int = 3,
    dl: DataFrame | None = None,
    df_t: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Pseudo-relevance-feedback term selection (the RM3-family
    expansion step, Lavrenko & Croft 2001 / Abdul-Jaleel et al.
    2004): run BM25 once, take each query's top ``fb_k`` documents as
    assumed-relevant FEEDBACK, and pick the ``n_expand`` terms most
    characteristic of that feedback set — here by (feedback document
    frequency desc, feedback tf desc, term asc), all integer counts so
    the choice replays exactly in SQL. Original query terms are
    excluded (expansion adds vocabulary, it never re-weights what the
    user typed).

    Scale shape: the feedback list is O(queries · fb_k) — broadcast
    onto postings, so candidate generation touches only feedback
    documents' postings rows; the per-query candidate pool is at most
    fb_k document vocabularies, ranked by one window. Returns
    (query_id, term) expansion rows."""
    fb = bm25_from_postings(
        postings, id_col, q_terms, k1, b, fb_k, dl=dl, df_t=df_t, stats=stats
    ).select("query_id", id_col)
    orig = q_terms.withColumn("__orig", F.lit(1))
    cand = (
        postings.join(F.broadcast(fb), id_col)
        .join(F.broadcast(orig), ["query_id", "term"], "left")
        .filter(F.col("__orig").isNull())
        .groupBy("query_id", "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("fb_df"),
            F.sum("tf").cast("bigint").alias("fb_tf"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("fb_df").desc(), F.col("fb_tf").desc(), F.col("term").asc()
    )
    return (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_expand)
        .select("query_id", "term")
    )


def bm25_prf_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    queries: list[tuple[int, str]],
    k1: float = 1.2,
    b: float = 0.75,
    fb_k: int = 5,
    n_expand: int = 3,
    k: int = 10,
) -> DataFrame:
    """Two-pass BM25 with pseudo-relevance feedback: retrieve, expand
    each query with :func:`prf_expand_terms`, retrieve again with the
    widened term set — the classic recall lever when queries are
    short (a 3-word query can't name every phrasing of its topic;
    its top documents can). Both passes share ONE postings table and
    the same df/dl/stats — the corpus shuffles into postings once;
    pass two only changes the broadcast query-term list. The final
    ranking is the plain BM25 fixed-point contract, so the whole
    two-pass pipeline is oracle-exact.

    The postings table feeds ~7 plan consumers across the two passes
    (dl/df/contrib twice + the feedback join); without pinning, each
    re-derives it from the text scan. localCheckpoint pins it once
    (the curation-flagship shared-featurize precedent — measured
    25-30% at sf0.1; persist() on a real cluster)."""
    q_terms = query_terms(docs.sparkSession, queries)
    postings = term_postings(docs, id_col, text_col).localCheckpoint(
        eager=True
    )
    # dl/df_t/stats once for BOTH passes (r13, guide §2.4): the
    # feedback pass and the final pass each re-aggregated the full
    # postings pin for per-doc lengths and document frequencies.
    dl, df_t, stats = bm25_shared_stats(postings, id_col)
    expansion = prf_expand_terms(
        postings, q_terms, id_col, k1, b, fb_k, n_expand,
        dl=dl, df_t=df_t, stats=stats,
    )
    # no distinct needed: query_terms deduped the pairs in the driver
    # and expansion rows are disjoint from them (originals excluded)
    q2 = q_terms.union(expansion)
    return bm25_from_postings(
        postings, id_col, q2, k1, b, k, dl=dl, df_t=df_t, stats=stats
    )


def rake_keyphrases(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 20,
    fp_scale: int = 1_000_000,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010,
    "Automatic Keyword Extraction from Individual Documents"): split
    text into candidate phrases at stopwords, score each word by
    degree/frequency over all candidates (degree = Σ length of the
    phrases it occurs in — words that co-occur in long multi-word
    phrases outrank isolated frequent words), then score each phrase
    as the sum of its words' scores — the zero-model keyphrase miner
    a corpus-exploration pass runs before committing to embeddings.

    Shape: phrase segmentation is one per-document running count
    (window partitioned by the doc id — fully parallel across docs),
    word stats are one vocabulary-sized aggregation, scores join
    back broadcast, and the corpus-level top-k is orderBy+limit
    (TakeOrderedAndProject — per-partition heaps, never a global
    sort). Determinism: word scores are integer-div fixed point
    ``(deg·fp_scale) div freq`` and phrase scores are exact BIGINT
    sums — order-independent, oracle-exact; ties break on the phrase
    string. Returns top-k (phrase, score_fp, n_occurrences) over
    distinct phrase texts (identical text ⇒ identical score by
    construction)."""
    from eco_pulse_lakehouse_spark.functions.text import STOPWORDS

    tok = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__w"),
    ).withColumn("__stop", F.col("__w").isin(*STOPWORDS))
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    words = (
        tok.withColumn(
            "__pid", F.sum(F.col("__stop").cast("int")).over(w_run)
        )
        .filter(~F.col("__stop"))
        .select(id_col, "__pos", "__w", "__pid")
    )
    plen = words.groupBy(id_col, "__pid").agg(
        F.count(F.lit(1)).cast("bigint").alias("__plen")
    )
    wstats = (
        words.join(plen, [id_col, "__pid"])
        .groupBy("__w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__freq"),
            F.sum("__plen").cast("bigint").alias("__deg"),
        )
        .withColumn(
            "__wscore",
            F.expr(f"(__deg * {int(fp_scale)}) div __freq"),
        )
    )
    phrases = (
        words.join(F.broadcast(wstats.select("__w", "__wscore")), "__w")
        .groupBy(id_col, "__pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__w"))),
                    lambda s: s["__w"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("__wscore").cast("bigint").alias("score_fp"),
        )
    )
    return (
        phrases.groupBy("phrase", "score_fp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("score_fp").desc(), F.col("phrase").asc())
        .limit(top_k)
    )


def textrank_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 2,
    iterations: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    build the word co-occurrence graph — an undirected edge between
    non-stopword tokens whose ORIGINAL positions lie within
    ``window`` of each other — and rank words by PageRank over it;
    the graph-centrality counterpart to :func:`rake_keyphrases`'s
    degree/frequency statistics (RAKE rewards words in long phrases,
    TextRank rewards words that bridge many contexts).

    Shape: co-occurrence pairs come from ``lead()`` windows
    partitioned by document (fully parallel across docs — never a
    self-join on position), the corpus-level edge list is one
    distinct, and the ranking reuses operators/components.py:pagerank
    verbatim (joins+aggregations, 1e-12 fixed-point contributions —
    bit-exact in any engine, same chained-CTE oracle discipline as
    g1_pagerank). Returns top-k (word, pr) by (pr desc, word asc)
    via TakeOrderedAndProject."""
    from eco_pulse_lakehouse_spark.functions.text import STOPWORDS
    from eco_pulse_lakehouse_spark.operators.components import pagerank

    cand = (
        docs.select(
            F.col(id_col),
            F.posexplode(tokens(F.col(text_col))).alias("__pos", "__w"),
        )
        .filter(~F.col("__w").isin(*STOPWORDS))
    )
    w_doc = Window.partitionBy(id_col).orderBy("__pos")
    with_leads = cand.select(
        "__pos",
        "__w",
        *[
            c
            for off in range(1, window + 1)
            for c in (
                F.lead("__pos", off).over(w_doc).alias(f"__p{off}"),
                F.lead("__w", off).over(w_doc).alias(f"__w{off}"),
            )
        ],
    )
    pair_parts = [
        with_leads.filter(
            (F.col(f"__p{off}") - F.col("__pos") <= window)
            & (F.col(f"__w{off}") != F.col("__w"))
        ).select(
            F.col("__w").alias("src"), F.col(f"__w{off}").alias("dst")
        )
        for off in range(1, window + 1)
    ]
    half = pair_parts[0]
    for p in pair_parts[1:]:
        half = half.unionByName(p)
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    ranks = pagerank(edges, iterations=iterations)
    return (
        ranks.select(F.col("id").alias("word"), F.col("rank").alias("pr"))
        .orderBy(F.col("pr").desc(), F.col("word").asc())
        .limit(top_k)
    )


def vocab_coverage(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 20,
) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-V
    vocabulary (by global token count, ties broken by token string).

    The vocabulary-budgeting op: pick V, measure what fraction of
    each document's tokens fall outside the top-V list. The vocab is
    built with a two-phase aggregate (partial counts map-side, then a
    global top-V — V rows), broadcast back onto the exploded tokens.
    OOV rate is an exact rational (count / count): no float drift.
    """
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    # orderBy+limit plans as TakeOrderedAndProject: per-partition
    # top-V then a V-row merge on the driver — never a global sort.
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(vocab_size)
        .select("term", F.lit(1).alias("__in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.count(F.lit(1)) - F.count("__in_vocab")).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
        )
    )


def bm25_topk_table(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    queries_df: DataFrame,
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    phrase_bonus: float = 0.25,
) -> DataFrame:
    """BM25 where the query batch is a TABLE (query_id, query_text) —
    the production retrieval shape (a query log / eval set joined
    against the corpus, not a hand-typed list) — plus an exact-phrase
    bonus: documents containing the query's full token sequence get
    ``phrase_bonus`` added to the term score.

    Scale shape: the query table is exploded into (query_id, term)
    and broadcast onto postings exactly like the literal variant; the
    phrase check joins ONLY the already-matched (query, doc)
    candidates back to document text (shuffle keyed on the doc id —
    text moves once for matched pairs, never per query term). Phrase
    matching is token-boundary-safe: both sides are wrapped in
    spaces, so 'join scan' never matches inside 'joint scanner'.

    The bonus is applied in the same 1e-6 fixed-point integer domain
    as the term contributions, keeping the final ranking
    order-independent and oracle-exact.
    """
    q_terms = (
        queries_df.select(
            F.col(qid_col).cast("long").alias("query_id"),
            F.explode(F.split(F.col(qtext_col), " ")).alias("term"),
        ).distinct()
    )
    scored = _bm25_score(docs, id_col, text_col, q_terms, k1, b, k=-1)
    bonus_fp = int(phrase_bonus * 1e6)
    phrases = queries_df.select(
        F.col(qid_col).cast("long").alias("query_id"),
        F.col(qtext_col).alias("__qtext"),
    )
    boosted = (
        scored
        .join(docs.select(F.col(id_col), F.col(text_col).alias("__text")), id_col)
        .join(F.broadcast(phrases), "query_id")
        .withColumn(
            "total_fp",
            F.col("score_fp")
            + F.when(
                F.contains(
                    F.concat(F.lit(" "), F.col("__text"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("__qtext"), F.lit(" ")),
                ),
                F.lit(bonus_fp).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("total_fp").desc(), F.col(id_col).asc()
    )
    return (
        boosted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            id_col,
            "total_fp",
            "score_fp",
            "n_terms_matched",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 48,
    overlap: int = 16,
) -> DataFrame:
    """Sliding token-window chunking — the RAG / context-window prep
    step (split every document into ``chunk_tokens``-token chunks
    whose starts advance by ``chunk_tokens - overlap``, so adjacent
    chunks share ``overlap`` tokens and every token is covered; the
    final chunk may be short).

    Entirely row-local JVM work: ``sequence`` builds the start
    offsets, ``posexplode`` fans them out, ``slice`` cuts the token
    window — no shuffle at all, so the operator scales linearly with
    the corpus and pipelines into whatever consumes the chunks (the
    output explodes ~n_tokens/stride× rows but each carries only its
    own window of text). The reference has no chunking stage (its
    text surface is Streamlit display only); this is the missing prep
    step between `curate_documents` and an embedding/indexing job.

    Returns (id_col, chunk_id, chunk_text, n_tokens), chunk_id dense
    from 0 in document order — deterministic for any partitioning.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("__toks"))
    starts = F.sequence(
        F.lit(0), F.size(F.col("__toks")) - 1, F.lit(stride)
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens)
    return (
        base.select(
            F.col(id_col),
            F.col("__toks"),
            F.posexplode(starts).alias("chunk_id", "__start"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("int").alias("n_tokens"),
        )
    )


def collocations_pmi(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    round_pmi: int = 6,
) -> DataFrame:
    """Collocation mining by pointwise mutual information — the
    statistical phrase detector a tokenizer/vocab-building pass runs
    before merging multi-word units:

        pmi(w1, w2) = ln( P(w1 w2) / (P(w1) P(w2)) )
                    = ln( c12 * N_uni^2 / (N_bi * c1 * c2) )

    Shape: two explode+groupBy count passes (bigrams and unigrams,
    both map-side combinable), scalar totals broadcast, unigram
    counts broadcast-joined back onto the surviving bigrams (the
    ``min_count`` filter runs BEFORE the joins, so rare noise never
    shuffles). The PMI argument is assembled as ONE division of two
    exact BIGINT products, then a single ln rounded to 6dp — the
    engine's transcendental-parity rule (ln is 1-ulp unstable across
    libms; rational inputs yield irrational outputs that sit safely
    off rounding boundaries, except ln(1) = 0.0 exactly in both).
    The BIGINT products hold to ~10^18 (c12·N_uni² at ~10 B tokens);
    past that switch the argument to log-subtraction form —
    the plan shape is unchanged.
    """
    from eco_pulse_lakehouse_spark.functions.text import tokens, word_shingles

    toks = docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.sum("c").alias("__n_uni"))
    grams = docs.select(
        F.explode(word_shingles(F.col(text_col), 2)).alias("g")
    )
    n_bi = grams.agg(F.count(F.lit(1)).alias("__n_bi"))
    big = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= min_count)
        .withColumn("w1", F.split_part(F.col("g"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("g"), F.lit(" "), F.lit(2)))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("__c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("__c2"))
    arg = (
        (F.col("c12") * F.col("__n_uni") * F.col("__n_uni")).cast("double")
        / (F.col("__n_bi") * F.col("__c1") * F.col("__c2")).cast("double")
    )
    return (
        big.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1", "w2", "c12",
            F.round(F.log(arg), round_pmi).alias("pmi"),
        )
    )


def unigram_logprob_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_scale: int = 1_000_000,
) -> DataFrame:
    """Per-document unigram cross-entropy — the CCNet-style
    "perplexity filter" stage of a pre-training pipeline (Wenzek et
    al. 2020): score each document by the average surprisal of its
    tokens under a unigram LM,

        H(doc) = (1/n) Σ_tokens −ln p(w),   p(w) = c(w) / N.

    High H = out-of-distribution/noisy text; curation keeps a band.
    The LM here is the corpus itself (self-scoring); a production
    pass swaps in an external LM table — same broadcast join, and at
    100 TB the vocab truncates to top-V with an OOV floor (the
    vocab_coverage pattern).

    Shape: one count pass builds the LM (map-side combinable), the
    tiny LM broadcasts onto the exploded token stream, per-doc sums
    partial-aggregate. Determinism: each token's −ln p rounds to a
    1e-6 fixed-point BIGINT (ln is 1-ulp unstable across libms; the
    BM25 rule), the per-doc sum is exact integer addition in ANY
    order, and one final division + 6dp round yields the score —
    oracle-exact (x4_unigram_logprob)."""
    from eco_pulse_lakehouse_spark.functions.text import tokens
    from eco_pulse_lakehouse_spark.operators.dedup import _pin

    # ONE tokenize pass (r14, guide §2.4): the old form exploded the
    # token stream twice — once to build the LM counts, once for the
    # scoring join. The stream is now aggregated ONCE into a pinned
    # per-document word-count table; the LM is Σk by word over it and
    # the per-document sums are Σ k·s_fp — exact integer sums, so
    # results are bit-identical to the per-token form (and the table
    # is distinct-words-per-doc sized, smaller than the raw stream).
    # persist() replaces localCheckpoint on a real cluster.
    twc = _pin(
        docs.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__w")
        )
        .groupBy(id_col, "__w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__k"))
    )
    lm = twc.groupBy("__w").agg(F.sum("__k").alias("__c"))
    n_total = lm.agg(F.sum("__c").alias("__n"))
    surprisal_fp = F.round(
        -F.log(F.col("__c").cast("double") / F.col("__n").cast("double"))
        * fp_scale,
        0,
    ).cast("bigint")
    scored = (
        twc.join(F.broadcast(lm), "__w")
        .crossJoin(F.broadcast(n_total))
        .groupBy(id_col)
        .agg(
            F.sum("__k").alias("n_tokens"),
            F.sum(F.col("__k") * surprisal_fp).alias("__s"),
        )
    )
    return scored.select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            F.col("__s").cast("double")
            / F.col("n_tokens").cast("double")
            / F.lit(float(fp_scale)),
            6,
        ).alias("avg_surprisal"),
    )


def perplexity_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet head/middle/tail perplexity buckets (Wenzek et al.
    2020): per LANGUAGE, rank documents by unigram surprisal
    (:func:`unigram_logprob_score`) and cut the ranking into
    ``n_buckets`` ntile bands — bucket 1 = head (most
    in-distribution), ``n_buckets`` = tail. CCNet trains on the head
    and discards or down-weights the tail; this is the standard
    quality gate between dedup and selection.

    Scale shape: a naive ``ntile() OVER (PARTITION BY lang)`` sorts
    each language in ONE task — a 20 TB-per-task disaster when langs
    are few. Here the rank comes from
    :func:`~eco_pulse_lakehouse_spark.operators.rank.global_row_number`
    (range-repartition + per-partition offsets — the o4 pattern) over
    the total order (lang, avg_surprisal, doc_id); per-language base
    rank and count broadcast (one row per language), and the bucket
    is computed ARITHMETICALLY with exact ntile semantics: the first
    ``n mod k`` buckets take ``n div k + 1`` rows, the rest
    ``n div k`` (pinned ≡ F.ntile in tests). Ordering key: the
    6dp-rounded surprisal — BIGINT-pair division is correctly rounded
    in both engines, so ranks replay exactly; doc_id breaks ties.

    Returns (id_col, lang_col, n_tokens, avg_surprisal, ppx_bucket).
    """
    scored = unigram_logprob_score(docs, id_col, text_col)
    j = scored.join(docs.select(id_col, lang_col), id_col)

    from eco_pulse_lakehouse_spark.operators.rank import global_row_number

    ranked = global_row_number(
        j,
        [
            F.col(lang_col).asc(),
            F.col("avg_surprisal").asc(),
            F.col(id_col).asc(),
        ],
        out_col="__grn",
    )
    per_lang = ranked.groupBy(lang_col).agg(
        F.min("__grn").alias("__base"),
        F.count(F.lit(1)).alias("__n"),
    )
    # integer 'div' isn't exposed as a Column operator — build the
    # whole CASE as one SQL expression so both branches stay BIGINT
    out = (
        ranked.join(F.broadcast(per_lang), lang_col)
        .withColumn(
            "__r", (F.col("__grn") - F.col("__base") + 1).cast("long")
        )
        .withColumn(
            "ppx_bucket",
            F.expr(
                f"CAST(CASE WHEN __r <= (__n div {n_buckets} + 1)"
                f" * (__n % {n_buckets})"
                f" THEN (__r - 1) div (__n div {n_buckets} + 1) + 1"
                f" ELSE (__n % {n_buckets}) + (__r - (__n % {n_buckets})"
                f" * (__n div {n_buckets} + 1) - 1)"
                f" div (__n div {n_buckets}) + 1 END AS INT)"
            ),
        )
    )
    return out.select(
        id_col, lang_col, "n_tokens", "avg_surprisal", "ppx_bucket"
    )


def bigram_logprob_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_scale: int = 1_000_000,
) -> DataFrame:
    """Per-document CONDITIONAL bigram cross-entropy — the
    order-sensitive upgrade of unigram_logprob_score:

        H(doc) = (1/(n−1)) Σ_i −ln p(w_i | w_{i−1}),
        p(w|v)  = c(v w) / c(v ·)

    A unigram LM can't see scrambled or repetitive word order; the
    bigram conditional does (boilerplate and template text score
    LOW surprisal, shuffled word salad scores HIGH) — the usual
    second stage of a CCNet-style quality ladder.

    Shape: bigrams are built row-locally from the token array (no
    self-join), one count pass each for c(v w) and the context
    marginal c(v ·), joined back onto the bigram stream by equi-join
    (broadcast while the LM is small; at 100 TB the bigram table is
    a real table and the join shuffles on the bigram — still one
    wide join, and the vocab truncates to top-V with an OOV floor
    like the unigram path). Same determinism contract: each −ln
    rounds to a 1e-6 fixed-point BIGINT, per-doc sums are exact
    integer math, one final division + 6dp round — oracle-exact
    (x4_bigram_logprob). Documents with fewer than 2 tokens surface
    with n_bigrams = 0 and NULL score, not dropped."""
    from eco_pulse_lakehouse_spark.functions.text import tokens

    toked = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("__t") - 1),
        lambda i: F.struct(
            F.element_at(F.col("__t"), i).alias("prev"),
            F.element_at(F.col("__t"), (i + 1).cast("int")).alias("cur"),
        ),
    )
    bg = (
        toked.filter(F.size("__t") >= 2)
        .select(F.col(id_col), F.explode(pairs).alias("__b"))
        .select(
            id_col,
            F.col("__b.prev").alias("__prev"),
            F.col("__b.cur").alias("__cur"),
        )
    )
    cbg = bg.groupBy("__prev", "__cur").agg(
        F.count(F.lit(1)).alias("__cb")
    )
    cctx = bg.groupBy("__prev").agg(F.count(F.lit(1)).alias("__cn"))
    surprisal_fp = F.round(
        -F.log(F.col("__cb").cast("double") / F.col("__cn").cast("double"))
        * fp_scale,
        0,
    ).cast("bigint")
    agg = (
        bg.join(F.broadcast(cbg), ["__prev", "__cur"])
        .join(F.broadcast(cctx), "__prev")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__nb"),
            F.sum(surprisal_fp).alias("__s"),
        )
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__nb"), F.lit(0)).cast("bigint").alias(
                "n_bigrams"
            ),
            F.when(
                F.col("__nb") > 0,
                F.round(
                    F.col("__s").cast("double")
                    / F.col("__nb").cast("double")
                    / F.lit(float(fp_scale)),
                    6,
                ),
            ).alias("avg_surprisal"),
        )
    )


def trigram_backoff_score(
    docs: DataFrame,
    train_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
    fp_scale: int = 1_000_000,
) -> DataFrame:
    """Per-document trigram cross-entropy under STUPID BACKOFF
    (Brants et al. 2007, "Large Language Models in Machine
    Translation" — the score function built FOR distributed LMs:
    no discounting pass, no normalization, just relative frequencies
    with a fixed backoff penalty):

        S(w | a b) = c(a b w) / c(a b ·)            if c(a b w) > 0
                   = α · c(b w) / c(b ·)            elif c(b w) > 0
                   = α² · c(w) / N                  elif c(w) > 0
                   = α² · 1 / N                     else (OOV floor)

    The LM trains on the ``train_pred`` half of the pool (unit-hash
    split in the corpus entry) and scores EVERY document — so docs
    outside the training half genuinely hit the backoff branches,
    unlike a self-scored LM where every n-gram is its own evidence.
    This is the third rung of the LM-quality ladder (unigram →
    bigram → trigram-backoff): held-out surprisal under a
    higher-order model is the standard CCNet-style quality signal.

    Shape: n-gram streams are row-local array transforms; the five
    count tables are map-side-combinable groupBys over the train
    half, joined back broadcast while the vocab is small (at 100 TB
    the trigram table is a real table — the join shuffles on the
    n-gram key, same narrative as bigram_logprob_score, and the
    vocab truncates to top-V). Determinism: each S is a FIXED tree
    of correctly-rounded IEEE ops (α literal parses to the same
    double everywhere; association α·(c/ctx) mirrored in the
    oracle), −ln rounds to 1e-6 fixed point per position, per-doc
    sums are exact integers. Docs with <3 tokens surface with
    n_scored = 0 and NULL score."""
    from eco_pulse_lakehouse_spark.functions.text import tokens

    toked = docs.select(
        F.col(id_col),
        train_pred.alias("__tr"),
        tokens(F.col(text_col)).alias("__t"),
    )

    def grams(n: int):
        """(id, __tr, g1..gn) stream of n-grams from the token array."""
        idx = F.sequence(F.lit(1), F.size("__t") - F.lit(n - 1))
        structs = F.transform(
            idx,
            lambda i: F.struct(
                *[
                    F.element_at(F.col("__t"), (i + j).cast("int")).alias(
                        f"g{j}"
                    )
                    for j in range(n)
                ]
            ),
        )
        return (
            toked.filter(F.size("__t") >= n)
            .select(id_col, "__tr", F.explode(structs).alias("__g"))
            .select(
                id_col,
                "__tr",
                *[F.col(f"__g.g{j}").alias(f"g{j}") for j in range(n)],
            )
        )

    tri, bi, uni = grams(3), grams(2), grams(1)
    tr3 = tri.filter("__tr")
    tr2 = bi.filter("__tr")
    tr1 = uni.filter("__tr")
    c3 = tr3.groupBy("g0", "g1", "g2").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c3")
    )
    c3ctx = tr3.groupBy("g0", "g1").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c3x")
    )
    c2 = tr2.groupBy("g0", "g1").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c2")
    )
    c2ctx = tr2.groupBy("g0").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c2x")
    )
    c1 = tr1.groupBy("g0").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c1")
    )
    n_tot = tr1.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))

    a = F.lit(float(alpha))
    a2 = F.lit(float(alpha * alpha))
    s = (
        F.when(
            F.col("__c3").isNotNull(),
            F.col("__c3").cast("double") / F.col("__c3x").cast("double"),
        )
        .when(
            F.col("__c2").isNotNull(),
            a * (F.col("__c2").cast("double") / F.col("__c2x").cast("double")),
        )
        .when(
            F.col("__c1").isNotNull(),
            a2 * (F.col("__c1").cast("double") / F.col("__n").cast("double")),
        )
        .otherwise(a2 * (F.lit(1.0) / F.col("__n").cast("double")))
    )
    fp = F.round(-F.log(s) * fp_scale, 0).cast("bigint")
    scored = (
        tri.join(F.broadcast(c3), ["g0", "g1", "g2"], "left")
        .join(F.broadcast(c3ctx), ["g0", "g1"], "left")
        .join(
            F.broadcast(
                c2.select(
                    F.col("g0").alias("g1"),
                    F.col("g1").alias("g2"),
                    "__c2",
                )
            ),
            ["g1", "g2"],
            "left",
        )
        .join(
            F.broadcast(c2ctx.select(F.col("g0").alias("g1"), "__c2x")),
            ["g1"],
            "left",
        )
        .join(
            F.broadcast(c1.select(F.col("g0").alias("g2"), "__c1")),
            ["g2"],
            "left",
        )
        .crossJoin(F.broadcast(n_tot))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.sum(fp).alias("__s"),
        )
    )
    base = toked.select(F.col(id_col))
    return base.join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_scored"), F.lit(0)).cast("bigint").alias(
            "n_scored"
        ),
        F.round(
            F.col("__s").cast("double")
            / F.col("n_scored").cast("double")
            / F.lit(float(fp_scale)),
            6,
        ).alias("avg_surprisal"),
    )
