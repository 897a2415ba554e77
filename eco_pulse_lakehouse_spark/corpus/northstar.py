"""North-star corpus — X1-X5 (SURVEY.md §2.11): the training-data-
pipeline operators over ``documents`` and ``embeddings``.

Exact operators carry DuckDB oracles (list/lambda SQL mirrors the
Spark higher-order expressions bit-for-bit — verified fold order).
Sketch-based operators (minhash LSH, simhash, random-hyperplane ANN)
are rows-only here and recall-tested against their exact twins in
tests/test_northstar.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.corpus._registry import T, make_registry, scratch
from eco_pulse_lakehouse_spark.functions import text as xt
from eco_pulse_lakehouse_spark.operators import dedup as xd
from eco_pulse_lakehouse_spark.operators import multimodal as xm
from eco_pulse_lakehouse_spark.operators import similarity as xs

QUERIES, ORACLES, q = make_registry()

# Single-sourced from the operators' stopword list (functions/
# text.py:STOPWORDS) so the oracles can never drift from the Spark
# side (ADVICE r10 — the RAKE/TextRank oracles had re-hardcoded it).
_STOPS_SQL = xt.STOPWORDS_SQL

# dot(a,b) in DuckDB SQL, mirroring functions/vector.py exactly
def _dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a})+1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _cos(a: str, b: str) -> str:
    return f"{_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)}))"


# =====================================================================
# X1 — exact deduplication
# =====================================================================


@q(
    "x1_exact_dedup",
    """
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def x1_exact_dedup(spark, sf_dir):
    """X1 — exact content dedup, deterministic keep-lowest-id
    (operators/dedup.py:exact_dedup)."""
    d = T(spark, sf_dir, "documents")
    return xd.exact_dedup(d, ["text"], "doc_id").select("doc_id", "lang", "n_chars")


@q(
    "x1_hash_dedup_key",
    "SELECT doc_id, sha256(text) AS content_key FROM documents",
)
def x1_hash_dedup_key(spark, sf_dir):
    """X1 — sha256 content key: shuffle 32 bytes, not the document
    (operators/dedup.py:content_key)."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", xd.content_key([F.col("text")]).alias("content_key"))


# =====================================================================
# X2 — near-duplicate detection
# =====================================================================


@q(
    "x2_ngram_jaccard",
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                 list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
               ELSE [] END) AS s
      FROM documents
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.2
    """,
)
def x2_ngram_jaccard(spark, sf_dir):
    """X2 ground truth — exact 3-gram Jaccard pairs ≥ 0.2
    (operators/dedup.py:ngram_jaccard_pairs)."""
    d = T(spark, sf_dir, "documents")
    return xd.ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.2)


# SQL-replayable per-token hash (operators/dedup.py:poly_token_hash):
# char fold h -> (h*131 + codepoint) % 1e9+7; the greatest() guard
# matches Spark's ascii('') = 0 (DuckDB unicode('') is -1).
def _poly_th_sql(tok: str, mult: int = 131, mod: int = 1_000_000_007) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({tok}, ''), "
        "c -> CAST(greatest(unicode(c), 0) AS BIGINT))), "
        f"(h, c) -> (h * {mult} + c) % {mod})"
    )


_MINHASH_MINS = ",\n             ".join(
    f"MIN((h0 * {2 * i + 1} + {12289 * i + 1}) % 2147483647) AS m{i}"
    for i in range(32)
)
_MINHASH_BANDS = "\n      UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, concat_ws(',', "
    f"m{4 * b}, m{4 * b + 1}, m{4 * b + 2}, m{4 * b + 3}) AS chunk "
    "FROM sig"
    for b in range(8)
)


@q(
    "x2_minhash_lsh",
    f"""
    WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents),
    t AS (
      SELECT doc_id,
             list_transform(w, tok -> {_poly_th_sql('tok')}) AS th,
             len(w) AS nw
      FROM tw
    ),
    sh AS (
      SELECT doc_id,
             (((th[i] * 67 + th[i+1]) % 2147483647) * 67 + th[i+2])
               % 2147483647 AS h0
      FROM t, unnest(range(1, nw - 1)) AS u(i)
      WHERE nw >= 3
    ),
    sig AS (
      SELECT doc_id,
             {_MINHASH_MINS}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_MINHASH_BANDS}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    """,
)
def x2_minhash_lsh(spark, sf_dir):
    """X2 — MinHash banded-LSH candidate pairs (32 hashes, 8 bands).
    Candidate generation is an equi-join on (band, band_hash) — the
    only shape that survives 100 TB. ORACLE-CONVERTED in round 5
    (was rows-only): with the poly char-fold token hash
    (dedup.py:poly_token_hash) the ENTIRE pipeline — token hashes,
    rolling 3-gram combine, 32 affine min-aggregates, band chunks,
    bucket self-join — replays in SQL; on this path the Spark side
    also joins on the band CHUNK STRING itself (dedup.py:
    minhash_bands hardening, ADVICE r05), so the Spark and oracle
    join keys are structurally identical — no band-hash-collision
    caveat. The xxhash64 default path keeps its recall pytest."""
    d = T(spark, sf_dir, "documents")
    return xd.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=32, bands=8,
        token_hash=xd.poly_token_hash,
    )


def _winnow_fp_ctes(p: str = "") -> str:
    """The winnowing fingerprint-index CTE chain (token hashes →
    rolling 3-gram combine → window-of-4 minima → exploded distinct
    (doc_id, fp)) — shared VERBATIM by x2_winnowing_pairs,
    x2_winnowing_bounded and x2_winnowing_clusters so the index
    definition cannot drift. ``p`` prefixes the CTE names for
    compositions whose other fragments already bind ``tw`` (the
    clusters entry composes with _dsir_fb)."""
    return f"""{p}tw AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents),
    {p}t AS (
      SELECT doc_id,
             list_transform(w, tok -> {_poly_th_sql('tok')}) AS th,
             len(w) AS nw
      FROM {p}tw
    ),
    {p}g AS (
      SELECT doc_id,
             list_transform(range(1, nw - 1),
               i -> (((th[i] * 67 + th[i+1]) % 2147483647) * 67
                     + th[i+2]) % 2147483647) AS gh,
             nw - 2 AS m
      FROM {p}t WHERE nw >= 3
    ),
    {p}fp AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, greatest(m - 3, 1) + 1),
                 j -> list_min(gh[j:j+3])))) AS fp
      FROM {p}g
    )"""


@q(
    "x2_winnowing_pairs",
    f"""
    WITH {_winnow_fp_ctes()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def x2_winnowing_pairs(spark, sf_dir):
    """X2 — winnowing fingerprint pairs (Schleimer et al. SIGMOD'03,
    the MOSS algorithm; operators/dedup.py:winnowing_pairs, k=3 w=4):
    per-window MINIMUM of the rolling 3-gram hashes — same
    SQL-replayable gram pipeline as x2_minhash_lsh (poly char-fold
    token hash + zip_with rolling combine), then one array transform
    of window minima, distinct, and a fingerprint-keyed equi-join
    counting shared prints per pair (≥ 2). The deterministic tier of
    the near-dup ladder: any shared run of ≥ w+k−1 = 6 tokens is
    GUARANTEED a shared fingerprint (pytest-pinned), where LSH is
    only probabilistic. Index is ~2/(w+1) of the gram stream; the
    join is blocked on the fingerprint key, never all-pairs."""
    d = T(spark, sf_dir, "documents")
    return xd.winnowing_pairs(
        d, "doc_id", "text", k=3, w=4, min_shared=2,
        token_hash=xd.poly_token_hash,
    )


@q(
    "x2_winnowing_bounded",
    f"""
    WITH {_winnow_fp_ctes()},
    capped AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp,
               row_number() OVER (PARTITION BY fp
                 ORDER BY doc_id ASC) AS rw
        FROM fp
      ) WHERE rw <= 5
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def x2_winnowing_bounded(spark, sf_dir):
    """X2 — winnowing pairs with per-fingerprint block caps
    (operators/dedup.py:bounded_winnowing_pairs, max_block=5 — the
    cap BINDS at every test sf: max block 9/7/25): overflowing
    fingerprint blocks keep their first 5 rows under the
    deterministic (fp, id) order, so the capped result is itself
    oracle-exact (w19/x2_phonetic_bounded precedent), and
    winnowing_block_overflow surfaces what the cap dropped
    (pytest-pinned — no silent caps). The 100 TB mechanics: hot
    fingerprints are identified first (a tiny table), cold rows pass
    untouched, and only the hot subset runs the distributed global
    rank — its offsets broadcast is one row per HOT fingerprint,
    never index-sized."""
    d = T(spark, sf_dir, "documents")
    return xd.bounded_winnowing_pairs(
        d, "doc_id", "text", k=3, w=4, min_shared=2, max_block=5,
        token_hash=xd.poly_token_hash,
    )


_SIMHASH_SUMS = ",\n             ".join(
    f"SUM(CASE WHEN (h // {2 ** j}) % 2 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(61)
)
_SIMHASH_PACK = "\n             + ".join(
    f"(CASE WHEN s{j} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END)"
    for j in range(61)
)


@q(
    "x2_simhash",
    f"""
    WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents),
    tok AS (
      SELECT doc_id,
             {_poly_th_sql('u.tok')} * 2147483648
             + {_poly_th_sql('u.tok', 137, 998_244_353)} AS h
      FROM tw, unnest(w) AS u(tok)
    ),
    sums AS (
      SELECT doc_id,
             {_SIMHASH_SUMS}
      FROM tok GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id,
             {_SIMHASH_PACK} AS sh
      FROM sums
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sigs a JOIN sigs b
      ON (a.sh // 281474976710656) = (b.sh // 281474976710656)
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 8
    """,
)
def x2_simhash(spark, sf_dir):
    """X2 — SimHash near-dup pairs, prefix-bucketed + hamming ≤ 8.
    ORACLE-CONVERTED in round 5 (was rows-only): the ~61-bit
    poly_token_hash64 (two char folds, h1·2^31 + h2) makes every
    stage integer-replayable — per-bit ±1 sums (bits 61-63 are
    structurally dead: always 0 in BOTH engines), sign-pack, 16-bit
    prefix bucket (sh // 2^48 == shiftrightunsigned on nonneg), XOR
    popcount refine. The xxhash64 default path keeps its
    bit-equality pytest vs the Column form."""
    d = T(spark, sf_dir, "documents")
    return xd.simhash_neardup_pairs(
        d, "doc_id", "text", max_hamming=8,
        token_hash=xd.poly_token_hash64,
    )


# =====================================================================
# X3 — similarity search over embeddings
# =====================================================================


@q(
    "x3_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
         scored AS (
           SELECT q_id, c_id, round({_cos('qv', 'cv')}, 6) AS sim
           FROM q CROSS JOIN c WHERE q_id != c_id
         )
    SELECT q_id, c_id, sim, rk FROM (
      SELECT q_id, c_id, sim, CAST(row_number() OVER (
        PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
)
def x3_cosine_topk(spark, sf_dir):
    """X3 — exact brute-force cosine top-10 for a query batch
    (operators/similarity.py:cosine_topk_bruteforce)."""
    e = T(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cs = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return xs.cosine_topk_bruteforce(qs, cs, k=10)


def _mmr_rounds_sql(
    k_sel: int = 5,
    lam_num: int = 7,
    mu: int = 3,
    pool: str = "mpool",
    pairs: str = "mpairs",
) -> str:
    """The unrolled MMR greedy rounds as composable CTE text (the
    _wp_sql discipline: one MATERIALIZED CTE per round, argmax
    chosen inside SQL via row_number, the selected-set union
    re-stated per round). Parameterized on the pool
    (q_id, c_id, rel_fp) and pairs (q_id, id_a, id_b, sim_fp) CTE
    names so flagship_rag_context composes the IDENTICAL rounds over
    its int8 retrieval pool. Emits ', sel1 AS ..., sel{k} AS ...';
    the caller unions sel1..sel{k}."""
    parts = [f""",
    sel1 AS MATERIALIZED (
      SELECT q_id, c_id, CAST(1 AS INTEGER) AS mmr_rank, rel_fp,
             CAST({lam_num} * rel_fp AS BIGINT) AS score_fp
      FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY {lam_num} * rel_fp DESC, c_id ASC) AS rn
            FROM {pool})
      WHERE rn = 1
    )"""]
    for r in range(2, k_sel + 1):
        prev = " UNION ALL ".join(
            f"SELECT q_id, c_id FROM sel{i}" for i in range(1, r)
        )
        parts.append(f""",
    rem{r} AS (
      SELECT p.* FROM {pool} p
      LEFT JOIN ({prev}) s ON p.q_id = s.q_id AND p.c_id = s.c_id
      WHERE s.c_id IS NULL
    ),
    ms{r} AS (
      SELECT r.q_id, r.c_id, r.rel_fp, MAX(pr.sim_fp) AS max_sim_fp
      FROM rem{r} r
      JOIN ({prev}) s ON r.q_id = s.q_id
      JOIN {pairs} pr ON pr.q_id = r.q_id AND pr.id_a = r.c_id
                    AND pr.id_b = s.c_id
      GROUP BY r.q_id, r.c_id, r.rel_fp
    ),
    sel{r} AS MATERIALIZED (
      SELECT q_id, c_id, CAST({r} AS INTEGER) AS mmr_rank, rel_fp,
             score_fp
      FROM (SELECT q_id, c_id, rel_fp,
                   CAST({lam_num} * rel_fp - {mu} * max_sim_fp
                        AS BIGINT) AS score_fp,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY {lam_num} * rel_fp - {mu} * max_sim_fp
                              DESC, c_id ASC) AS rn
            FROM ms{r})
      WHERE rn = 1
    )""")
    return "".join(parts)


def _mmr_sql(
    k_pool: int = 20, k_sel: int = 5, lam_num: int = 7, mu: int = 3
) -> str:
    """Unrolled MMR oracle over the float-cosine brute-force pool
    (x3_mmr_rerank): head CTEs + the shared greedy rounds."""
    head = f"""
    WITH mq AS (SELECT vec_id AS q_id, embedding AS qv
                FROM embeddings WHERE vec_id < 10),
    mc AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
    mscored AS (
      SELECT q_id, c_id, round({_cos('qv', 'cv')}, 6) AS sim
      FROM mq CROSS JOIN mc WHERE q_id != c_id
    ),
    mpool AS MATERIALIZED (
      SELECT q_id, c_id,
             CAST(round(sim * 1000000, 0) AS BIGINT) AS rel_fp
      FROM (SELECT q_id, c_id, sim, row_number() OVER (
              PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rk
            FROM mscored)
      WHERE rk <= {k_pool}
    ),
    mpv AS (SELECT p.q_id, p.c_id, c.cv
            FROM mpool p JOIN mc c USING (c_id)),
    mpairs AS MATERIALIZED (
      SELECT a.q_id, a.c_id AS id_a, b.c_id AS id_b,
             CAST(round(round({_cos('a.cv', 'b.cv')}, 6) * 1000000, 0)
                  AS BIGINT) AS sim_fp
      FROM mpv a JOIN mpv b ON a.q_id = b.q_id AND a.c_id != b.c_id
    )"""
    final = " UNION ALL ".join(
        f"SELECT * FROM sel{i}" for i in range(1, k_sel + 1)
    )
    return (
        head
        + _mmr_rounds_sql(k_sel, lam_num, mu)
        + f"\n    {final}"
    )


@q("x3_mmr_rerank", _mmr_sql())
def x3_mmr_rerank(spark, sf_dir):
    """X3/X4 retrieval — MMR diversified re-ranking (Carbonell &
    Goldstein SIGIR'98; operators/similarity.py:mmr_rerank): each
    query's 20-candidate cosine pool greedily re-ranked by
    λ·relevance − (1−λ)·max-similarity-to-selected (λ = 0.7 as the
    exact integer 7/10 split), 5 picks per query — the diversity
    stage between ANN retrieval (x3_cosine_topk) and RAG context
    assembly (flagship_rag_context) that stops near-duplicate
    passages crowding the context window. Pool-sized pairwise sims
    (never corpus-sized), exact BIGINT greedy scores, argmax per
    round via a query-partitioned window; oracle unrolls the 5
    greedy rounds as MATERIALIZED CTEs with the argmax inside SQL
    (the _wp_sql discipline)."""
    e = T(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cs = e.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return xs.mmr_rerank(qs, cs, k_pool=20, k_select=5)


@q(
    "x3_cosine_neardup",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings)
    SELECT id_a, id_b, sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({_cos('a.embedding', 'b.embedding')}, 6) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ) WHERE sim >= 0.3
    """,
)
def x3_cosine_neardup(spark, sf_dir):
    """X2/X3 — embedding-cosine near-dup pairs (threshold 0.3 — the
    synthetic embeddings are near-orthogonal, max pairwise ≈ 0.51)."""
    e = T(spark, sf_dir, "embeddings")
    return xs.cosine_neardup_pairs(e, threshold=0.3)


@q("x3_cosine_topk_block")  # numpy matmul scorer: rows-only (pairwise
# float summation differs from the sequential fold in the last ulp);
# rank-set equality vs the JVM form pinned in pytest
def x3_cosine_topk_block(spark, sf_dir):
    """X3 fast path — Arrow/numpy block-matmul top-k
    (operators/similarity.py:cosine_topk_block): same queries as
    x3_cosine_topk, scored as one matrix product per Arrow batch."""
    e = T(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cs = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return xs.cosine_topk_block(qs, cs, k=10)


_QNORM = f"sqrt({_dot('embedding', 'embedding')})"
_QVEC = (
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) "
    f"/ {_QNORM} * CAST(127.0 AS DOUBLE)) AS INT))"
)


@q(
    "x3_quantized_topk",
    f"""
    WITH e AS (
      SELECT vec_id, {_QVEC} AS qv FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, qv AS qa FROM e WHERE q_id < 10),
    c AS (SELECT vec_id AS c_id, qv AS qb FROM e),
    scored AS (
      SELECT q_id, c_id,
             CAST(list_sum(list_transform(range(1, len(qa)+1),
               i -> CAST(qa[i] AS BIGINT) * qb[i])) AS BIGINT) AS qdot
      FROM q CROSS JOIN c WHERE q_id != c_id
    )
    SELECT q_id, c_id, qdot, rk FROM (
      SELECT q_id, c_id, qdot, CAST(row_number() OVER (
        PARTITION BY q_id ORDER BY qdot DESC, c_id ASC) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
)
def x3_quantized_topk(spark, sf_dir):
    """X3 — int8-quantized top-10 (operators/similarity.py:
    quantize_embeddings + quantized_dot_topk): L2-normalize, scale to
    ±127 ints, rank by exact BIGINT dot product. 4× smaller vectors
    than float32 at every ANN stage; unlike the float-scored paths
    this one is oracle-EXACT (integer scoring has no summation-order
    ulp), and its rank overlap vs exact cosine is pinned in pytest."""
    e = T(spark, sf_dir, "embeddings")
    qz = xs.quantize_embeddings(e, "embedding", "q_vec", n_levels=127)
    qs_ = qz.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("q_vec").alias("qa")
    )
    cs = qz.select(F.col("vec_id").alias("c_id"), F.col("q_vec").alias("qb"))
    return xs.quantized_dot_topk(
        qs_, cs, k=10, q_vec="qa", c_vec="qb"
    )


@q(
    "x3_mrl_sweep",
    f"""
    WITH e AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
    q AS (SELECT vec_id AS q_id, qv AS qa FROM e WHERE q_id < 10),
    c AS (SELECT vec_id AS c_id, qv AS qb FROM e),
    dms AS (SELECT CAST(d AS INT) AS dims
            FROM (VALUES (8), (16), (32), (64)) t(d)),
    scored AS (
      SELECT dims, q_id, c_id,
             CAST(list_sum(list_transform(range(1, dims + 1),
               i -> CAST(qa[i] AS BIGINT) * qb[i])) AS BIGINT) AS qdot
      FROM q CROSS JOIN c CROSS JOIN dms WHERE q_id != c_id
    ),
    ranked AS (
      SELECT dims, q_id, c_id FROM (
        SELECT dims, q_id, c_id, row_number() OVER (
          PARTITION BY dims, q_id ORDER BY qdot DESC, c_id ASC) AS rk
        FROM scored) WHERE rk <= 10
    ),
    fullr AS (SELECT q_id, c_id FROM ranked WHERE dims = 64)
    SELECT r.dims, r.q_id,
           CAST(SUM(CASE WHEN f.c_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST(SUM(CASE WHEN f.c_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / 10.0 AS recall
    FROM ranked r LEFT JOIN fullr f
      ON r.q_id = f.q_id AND r.c_id = f.c_id
    GROUP BY r.dims, r.q_id
    """,
)
def x3_mrl_sweep(spark, sf_dir):
    """X3 — MATRYOSHKA (MRL) truncation sweep
    (operators/similarity.py:mrl_recall_sweep): top-10 retrieval
    scored with only the first 8/16/32/64 embedding dimensions,
    overlap vs the full-dim ranking — the dimension-vs-recall tuning
    table of an MRL embedding store, the same single-plan sweep
    pattern as x3_pq_distortion_sweep. Int8 prefix dots are exact
    BIGINTs ⇒ the whole sweep is oracle-exact (no float-scored ANN
    ambiguity); dims=64 is the k/k sanity diagonal."""
    from eco_pulse_lakehouse_spark.operators.similarity import (
        mrl_recall_sweep,
    )

    e = T(spark, sf_dir, "embeddings")
    return mrl_recall_sweep(e, "vec_id", "embedding")


@q(
    "x3_pq_topk",
    f"""
    WITH e AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) AS INT) - 1 AS code, qv
      FROM (SELECT vec_id, qv FROM e ORDER BY vec_id ASC LIMIT 16)
    ),
    segs AS (SELECT CAST(m AS INT) AS m FROM range(8) t(m)),
    cb AS (
      SELECT m, code, list_slice(qv, m*8+1, m*8+8) AS cent
      FROM segs CROSS JOIN seeds
    ),
    dsub AS (
      SELECT vec_id, m, list_slice(qv, m*8+1, m*8+8) AS sub
      FROM e CROSS JOIN segs
    ),
    dist AS (
      SELECT vec_id, d.m AS m, cb.code AS code,
        CAST(list_sum(list_transform(range(1, 9),
          i -> CAST(sub[i] - cent[i] AS BIGINT) * CAST(sub[i] - cent[i] AS BIGINT)))
          AS BIGINT) AS dd
      FROM dsub d JOIN cb ON d.m = cb.m
    ),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code, row_number() OVER (
          PARTITION BY vec_id, m ORDER BY dd ASC, code ASC) AS rn
        FROM dist) WHERE rn = 1
    ),
    qs AS (SELECT vec_id AS q_id, qv FROM e WHERE vec_id < 10),
    lut AS (
      SELECT q_id, cb.m AS m, cb.code AS code,
        CAST(list_sum(list_transform(range(1, 9),
          i -> CAST(list_slice(qv, cb.m*8+1, cb.m*8+8)[i] AS BIGINT) * cent[i]))
          AS BIGINT) AS pdot
      FROM qs CROSS JOIN cb
    ),
    scored AS (
      SELECT q_id, vec_id AS c_id, CAST(sum(pdot) AS BIGINT) AS score
      FROM enc JOIN lut USING (m, code)
      WHERE q_id != vec_id
      GROUP BY q_id, vec_id
    )
    SELECT q_id, c_id, score, rk FROM (
      SELECT q_id, c_id, score, CAST(row_number() OVER (
        PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rk
      FROM scored) WHERE rk <= 10
    """,
)
def x3_pq_topk(spark, sf_dir):
    """X3 — product-quantization ADC top-10 (operators/similarity.py:
    pq_codebooks + pq_encode + pq_topk): int8-quantize, split into
    8 segments x 16-entry seed codebooks, encode every vector as 8
    code bytes (8x smaller again than int8), score via per-query
    BIGINT lookup tables. Seed codebooks (iterations=0) make the
    whole pipeline — codebook, encode argmin, ADC scores, ranking —
    exact-integer and replayable in ANSI SQL, so unlike float ANN
    this compression path is oracle-EXACT; Lloyd-trained codebooks
    (iterations>0) are pinned separately in pytest (distortion
    monotonicity + recall overlap vs the exact int8 ranking)."""
    e = T(spark, sf_dir, "embeddings")
    qz = xs.quantize_embeddings(e, "embedding", "q_vec", n_levels=127)
    cb = xs.pq_codebooks(
        qz, "vec_id", "q_vec", m_segments=8, k_codes=16, dim=64, iterations=0
    )
    enc = xs.pq_encode(
        qz, cb, "vec_id", "q_vec", m_segments=8, k_codes=16, dim=64
    )
    qs_ = enc.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "q_vec"
    )
    cs = enc.select(F.col("vec_id").alias("c_id"), "pq_codes")
    return xs.pq_topk(qs_, cs, cb, k=10, m_segments=8, k_codes=16, dim=64)


def _pq_dist_block(m: int) -> str:
    """One UNION ALL arm of the PQ distortion sweep oracle: total
    squared-L2 error of the m-segment seed codebook (16 codes,
    dim 64). Mirrors the x3_pq_topk seed/codebook replay."""
    sd = 64 // m
    return f"""
    SELECT CAST({m} AS INT) AS m_segments, CAST(16 AS INT) AS k_codes,
           CAST(SUM(mind) AS BIGINT) AS distortion
    FROM (
      SELECT vec_id, m, MIN(dd) AS mind FROM (
        SELECT d.vec_id, d.m, s.code,
          CAST(list_sum(list_transform(range(1, {sd + 1}),
            i -> CAST(d.sub[i] - s.cent[i] AS BIGINT)
                 * CAST(d.sub[i] - s.cent[i] AS BIGINT))) AS BIGINT) AS dd
        FROM (
          SELECT vec_id, CAST(t.m AS INT) AS m,
                 list_slice(qv, CAST(t.m AS INT) * {sd} + 1,
                            CAST(t.m AS INT) * {sd} + {sd}) AS sub
          FROM e CROSS JOIN range({m}) t(m)
        ) d
        JOIN (
          SELECT CAST(t.m AS INT) AS m, code,
                 list_slice(sq, CAST(t.m AS INT) * {sd} + 1,
                            CAST(t.m AS INT) * {sd} + {sd}) AS cent
          FROM seeds CROSS JOIN range({m}) t(m)
        ) s ON d.m = s.m
      ) GROUP BY vec_id, m
    )"""


@q(
    "x3_pq_distortion_sweep",
    f"""
    WITH e AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) AS INT) - 1
               AS code, qv AS sq
      FROM (SELECT vec_id, qv FROM e ORDER BY vec_id ASC LIMIT 16)
    )
    {_pq_dist_block(2)}
    UNION ALL
    {_pq_dist_block(4)}
    UNION ALL
    {_pq_dist_block(8)}
    """,
)
def x3_pq_distortion_sweep(spark, sf_dir):
    """X3 — PQ tuning sweep (operators/similarity.py:
    pq_distortion_table): total exact-BIGINT squared-L2 quantization
    error of the seed codebook at m_segments ∈ (2, 4, 8), the
    k-means objective that picks (m, k) before committing a 100 TB
    encode. The sweep is ONE lazy plan (a union of narrow map
    passes — no per-config driver round trip), mirrors the IVF
    recall sweep's shape, and is oracle-EXACT because seed codebooks
    keep every stage integer (the x3_pq_topk replay rule). Finer
    segmentation must monotonically reduce distortion — pinned in
    pytest."""
    e = T(spark, sf_dir, "embeddings")
    qz = xs.quantize_embeddings(e, "embedding", "q_vec", n_levels=127)
    out = None
    for m in (2, 4, 8):
        cb = xs.pq_codebooks(
            qz, "vec_id", "q_vec",
            m_segments=m, k_codes=16, dim=64, iterations=0,
        )
        part = xs.pq_distortion_table(
            qz, cb, "q_vec", m_segments=m, k_codes=16, dim=64
        )
        out = part if out is None else out.unionByName(part)
    return out


def _lsh_sig_sql(vec: str, projs: list[list[float]]) -> str:
    """DuckDB twin of operators/similarity.py:lsh_signature — the SAME
    literal projections, sign-packed the same way, so the composed
    LSH→refine pipeline is exactly reproducible in SQL."""
    terms = []
    for j, p in enumerate(projs):
        arr = "[" + ",".join(repr(float(x)) for x in p) + "]"
        dot = (
            f"list_sum(list_transform(range(1, len({vec})+1), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({arr})[i]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


# Seed-centroid IVF replay shared by x3_ivf_topk and x3_ivf_persisted
# (same centroids => identical results — the lifecycle split changes
# only WHERE the lists live, which the oracle can't and needn't see).
# The centroid-count knob is a template parameter: the persisted twin
# pins 16 (its parquet index layout), while x3_ivf_topk derives the
# knob from the corpus size IN SQL — the same max(16, round(sqrt(N)))
# the Spark side computes, so the oracle is data-parameterized and
# the certified artifact is the scale-shaped one (sqrt is correctly
# rounded and round() is half-away-from-zero in BOTH engines).
_IVF_KNOB_SQL = (
    "(SELECT GREATEST(16, CAST(round(sqrt(COUNT(*))) AS INT)) "
    "FROM embeddings)"
)


def _ivf_sql(n_centroids_expr: str) -> str:
    return f"""
    WITH cents AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
               AS cent_id,
             embedding AS cent_vec
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {n_centroids_expr})
    ),
    rk AS (
      SELECT e.vec_id AS vid, e.embedding AS v, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {_cos('e.embedding', 'c.cent_vec')} DESC,
                        c.cent_id ASC) AS choice
      FROM embeddings e CROSS JOIN cents c
    ),
    lists AS (SELECT vid AS c_id, v AS c_vec, cent_id
              FROM rk WHERE choice = 1),
    probes AS (SELECT vid AS q_id, v AS q_vec, cent_id
               FROM rk WHERE choice <= 2),
    scored AS (
      SELECT q_id, c_id, round({_cos('q_vec', 'c_vec')}, 6) AS sim
      FROM probes JOIN lists USING (cent_id)
      WHERE q_id != c_id
    )
    SELECT q_id, c_id, sim, rk FROM (
      SELECT q_id, c_id, sim, CAST(row_number() OVER (
        PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 10
"""


_IVF_SQL = _ivf_sql("16")
_IVF_SCALED_SQL = _ivf_sql(_IVF_KNOB_SQL)


@q(
    "x3_ann_lsh",
    f"""
    WITH s AS (
      SELECT vec_id,
             {_lsh_sig_sql('embedding', xs._deterministic_projections(64, 8, seed=7))}
               AS sig
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             round({_cos('ea.embedding', 'eb.embedding')}, 6) AS sim
      FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id != b.vec_id
      JOIN embeddings ea ON a.vec_id = ea.vec_id
      JOIN embeddings eb ON b.vec_id = eb.vec_id
    )
    SELECT q_id, c_id, sim, rk FROM (
      SELECT q_id, c_id, sim, CAST(row_number() OVER (
        PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
)
def x3_ann_lsh(spark, sf_dir):
    """X3 scale path — random-hyperplane LSH buckets + exact refine.
    ORACLE-CONVERTED in round 5 (was rows-only): the SQL replays the
    identical seed-7 literal hyperplanes (_lsh_sig_sql — the
    x3_ann_refined technique), the sign-packed bucket equi-join, and
    the rounded-cosine rank; recall vs brute force stays pinned in
    pytest."""
    e = T(spark, sf_dir, "embeddings")
    return xs.cosine_topk_lsh(e, bits=8, k=10)


def _lsh_dots_sql(vec: str, projs: list[list[float]]) -> str:
    """DuckDB list of per-hyperplane dot products — the SAME literal
    projections as the Spark plan, folded in the same order, so
    signs AND magnitudes (multi-probe margins) replay exactly."""
    dots = []
    for p in projs:
        arr = "[" + ",".join(repr(float(x)) for x in p) + "]"
        dots.append(
            f"list_sum(list_transform(range(1, len({vec})+1), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({arr})[i]))"
        )
    return "[" + ", ".join(dots) + "]"


_MP_BITS = 8
_MP_FLIP = 2
_MP_SIG_FROM_DOTS = " + ".join(
    f"(CASE WHEN dots[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(_MP_BITS)
)


@q(
    "x3_lsh_multiprobe",
    f"""
    WITH d AS (
      SELECT vec_id, embedding,
             {_lsh_dots_sql('embedding', xs._deterministic_projections(64, _MP_BITS, seed=7))}
               AS dots
      FROM embeddings
    ), sg AS (
      SELECT vec_id, embedding, dots,
             CAST({_MP_SIG_FROM_DOTS} AS BIGINT) AS sig
      FROM d
    ), pr AS (
      SELECT vec_id AS q_id, embedding AS q_vec,
             unnest(list_concat([sig], list_transform(
               list_filter(range(0, {_MP_BITS}), j ->
                 len(list_filter(range(0, {_MP_BITS}), i ->
                   abs(dots[i+1]) < abs(dots[j+1]) OR
                   (abs(dots[i+1]) = abs(dots[j+1]) AND i < j))) < {_MP_FLIP}),
               j -> xor(sig, CAST(1 AS BIGINT) << j)))) AS psig
      FROM sg
    ),
    scored AS (
      SELECT pr.q_id, sg.vec_id AS c_id,
             round({_cos('pr.q_vec', 'sg.embedding')}, 6) AS sim
      FROM pr JOIN sg ON pr.psig = sg.sig AND pr.q_id != sg.vec_id
    )
    SELECT q_id, c_id, sim, rk FROM (
      SELECT q_id, c_id, sim, CAST(row_number() OVER (
        PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
)
def x3_lsh_multiprobe(spark, sf_dir):
    """X3 scale path — MULTI-PROBE random-hyperplane LSH (similarity
    .py:cosine_topk_lsh_multiprobe, after Lv et al. VLDB'07): each
    query probes its own bucket plus the 2 buckets reached by flipping
    its lowest-|margin| sign bits. Recall of ~3 independent tables for
    ONE table's index storage — only the query side replicates (×3),
    the candidate index is hashed and stored once, which is the knob
    that matters when the index side is 100 TB. Oracle replays the
    literal seed-7 hyperplanes, the rank-by-comparison flip rule on
    identical IEEE margins, and the XOR probe signatures; superset-of
    -single-probe + recall pinned in pytest."""
    e = T(spark, sf_dir, "embeddings")
    return xs.cosine_topk_lsh_multiprobe(e, bits=_MP_BITS, n_flip=_MP_FLIP, k=10)


_IVF_INDEX_CACHE: dict = {}


# Persisted twin queries only vec_id < 10 — same index, probe subset.
_IVF_PERSISTED_SQL = _IVF_SQL.replace(
    "FROM rk WHERE choice <= 2",
    "FROM rk WHERE choice <= 2 AND vid < 10",
)
assert "vid < 10" in _IVF_PERSISTED_SQL  # fail loudly if _IVF_SQL drifts


@q("x3_ivf_persisted", _IVF_PERSISTED_SQL)
def x3_ivf_persisted(spark, sf_dir):
    """X3 — PERSISTED IVF index lifecycle (similarity.py:
    build_ivf_index / query_ivf_index): the index (centroids +
    cent_id-partitioned inverted lists) is built once and parquet-
    persisted; queries probe 2 of 16 lists and partition pruning
    reads only those files. Same centroids ⇒ identical results to
    the in-memory ivf_topk (test-pinned); the lifecycle split is the
    100 TB serving shape — build amortizes, queries touch O(probed
    partitions). ORACLE-CONVERTED in round 5: carries _IVF_SQL (the
    ivf_topk replay) — the persisted lifecycle changes only where
    the lists live, not the results."""
    import os

    from eco_pulse_lakehouse_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    e = T(spark, sf_dir, "embeddings")
    path = _IVF_INDEX_CACHE.get(sf_dir)
    if not (path and os.path.exists(f"{path}/lists")):
        path = scratch("ivf")
        build_ivf_index(e, path, n_centroids=16)
        _IVF_INDEX_CACHE[sf_dir] = path
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return query_ivf_index(spark, path, queries, k=10, n_probe=2)


@q("x3_ivf_topk", _IVF_SCALED_SQL)
def x3_ivf_topk(spark, sf_dir):
    """X3 scale path #2 — IVF inverted lists (nearest-centroid
    partitions, n_probe search); complements the LSH variant with
    data-adaptive buckets. ORACLE-CONVERTED in round 5 (was
    rows-only); KNOB-SCALED in round 8 (VERDICT r07 item 5): the
    centroid count is max(16, round(sqrt(N))) derived from the
    corpus size — on BOTH engines, the oracle computes the same
    knob in SQL — so per-list candidate sets stay ~sqrt(N) and the
    measured fixed-knob exponent-1.46 artifact is retired
    (tools/ivf_scaling_probe.py measured exp ≈0.1 with the scaled
    knob). N comes from one count() — metadata-scale on parquet, a
    catalog-stats lookup at 100 TB. Seed centroids are the lowest-id
    vectors, so the whole index — assignment argmax, probe set,
    rounded-cosine rank — replays in SQL (_ivf_sql, shared with
    x3_ivf_persisted which pins 16, its parquet index layout)."""
    import math

    e = T(spark, sf_dir, "embeddings")
    n = e.count()
    n_centroids = max(16, int(math.floor(math.sqrt(n) + 0.5)))
    return xs.ivf_topk(e, n_centroids=n_centroids, n_probe=2, k=10)


_ANN_REFINED_TABLES = 3
_ANN_REFINED_BITS = 6
_ANN_REFINED_CAND_SQL = "\nUNION\n".join(
    f"""
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM (SELECT vec_id, {_lsh_sig_sql('embedding', xs._deterministic_projections(64, _ANN_REFINED_BITS, seed=7 + t))} AS sig
            FROM embeddings) a
      JOIN (SELECT vec_id, {_lsh_sig_sql('embedding', xs._deterministic_projections(64, _ANN_REFINED_BITS, seed=7 + t))} AS sig
            FROM embeddings) b
        ON a.sig = b.sig AND a.vec_id < b.vec_id
    """
    for t in range(_ANN_REFINED_TABLES)
)


@q(
    "x3_ann_refined",
    f"""
    WITH cand AS ({_ANN_REFINED_CAND_SQL})
    SELECT id_a, id_b, sim FROM (
      SELECT c.id_a, c.id_b,
             round({_cos('ea.embedding', 'eb.embedding')}, 6) AS sim
      FROM cand c
      JOIN embeddings ea ON c.id_a = ea.vec_id
      JOIN embeddings eb ON c.id_b = eb.vec_id
    ) WHERE sim >= 0.3
    """,
)
def x3_ann_refined(spark, sf_dir):
    """X3 composed — LSH candidate generation → exact-cosine refine
    as ONE corpus query (operators/similarity.py:ann_neardup_refined).
    Oracle-exact: the SQL replays the identical literal hyperplanes,
    so result == truth ∩ candidates on both engines. Closes the gap
    that the only oracle-checked near-dup path was the O(n²)
    cross-join form (x3_cosine_neardup stays as the truth contrast).
    """
    e = T(spark, sf_dir, "embeddings")
    return xs.ann_neardup_refined(
        e, threshold=0.3, bits=_ANN_REFINED_BITS, tables=_ANN_REFINED_TABLES
    )


@q(
    "flagship_text_pipeline",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_tok,
             CAST(len(list_filter(string_split(text, ' '),
                      w -> w IN {'(' + "'the', 'a', 'of', 'and', 'to'" + ')'}))
                  AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio
      FROM documents
    ), clean AS (
      SELECT doc_id, lang, text FROM toks
      WHERE coalesce(n_tok >= 20, false)
        AND coalesce(stop_ratio < 0.5, false)
    ), unique_docs AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM clean
      ) WHERE rn = 1
    ), scored AS (
      SELECT doc_id, lang,
             least(1.0, len(string_split(text, ' ')) / 100.0)
             * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                            w -> w IN ('the','a','of','and','to'))) AS DOUBLE)
                      / len(string_split(text, ' ')))
             * least(1.0, ((length(text) - (len(string_split(text, ' ')) - 1))
                           / len(string_split(text, ' '))) / 8.0) AS q,
             list_reduce(
               list_concat([CAST(0 AS BIGINT)],
                 list_transform(string_split(text, ' '),
                   w -> CAST(length(w) * 31 + unicode(w) AS BIGINT))),
               (h, c) -> (h * 131 + c) % 1000000007) AS fp
      FROM unique_docs
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(CAST(SUM(CAST(q AS DECIMAL(18,12))) AS STRING) AS DOUBLE) / COUNT(*)
             AS avg_quality,
           COUNT(DISTINCT fp) AS distinct_fingerprints
    FROM scored GROUP BY lang
    """,
)
def flagship_text_pipeline(spark, sf_dir):
    """North-star flagship — the COMPOSED curation pipeline (quality
    gate → dedup → score/fingerprint → per-lang rollup), end-to-end
    oracle-checked (plans/text_pipeline.py)."""
    from eco_pulse_lakehouse_spark.plans.text_pipeline import curate_documents

    return curate_documents(T(spark, sf_dir, "documents"))


# =====================================================================
# X4 — text analysis
# =====================================================================


@q(
    "x4_text_stats",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           (length(text) - (len(string_split(text, ' ')) - 1))
             / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_filter(string_split(text, ' '),
                    w -> w IN {_STOPS_SQL})) AS DOUBLE)
             / len(string_split(text, ' ')) AS stop_ratio
    FROM documents
    """,
)
def x4_text_stats(spark, sf_dir):
    """X4 — token count / avg token length / stopword ratio, all
    built-in array expressions (functions/text.py)."""
    d = T(spark, sf_dir, "documents")
    toks = xt.tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (
            (F.length("text") - (F.size(toks) - F.lit(1))).cast("double")
            / F.size(toks)
        ).alias("avg_token_len"),
        xt.stopword_ratio(F.col("text")).alias("stop_ratio"),
    )


@q(
    "x4_quality_score",
    f"""
    SELECT doc_id,
           least(1.0, len(string_split(text, ' ')) / 100.0)
           * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                          w -> w IN {_STOPS_SQL})) AS DOUBLE)
                    / len(string_split(text, ' ')))
           * least(1.0, ((length(text) - (len(string_split(text, ' ')) - 1))
                         / len(string_split(text, ' '))) / 8.0) AS quality
    FROM documents
    """,
)
def x4_quality_score(spark, sf_dir):
    """X4 — composite quality heuristic (functions/text.py:quality_score)."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", xt.quality_score(F.col("text")).alias("quality"))


@q(
    "x4_lang_id",
    """
    WITH s AS (
      SELECT doc_id, lang,
        len(list_filter(string_split(text,' '), w -> w IN ('the','a','table','row'))) AS s_en,
        len(list_filter(string_split(text,' '), w -> w IN ('data','column','part'))) AS s_es,
        len(list_filter(string_split(text,' '), w -> w IN ('window','batch','stream'))) AS s_de,
        len(list_filter(string_split(text,' '), w -> w IN ('join','merge','order'))) AS s_fr,
        len(list_filter(string_split(text,' '), w -> w IN ('spark','hash','scan'))) AS s_zh
      FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
                WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
                WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
                WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'zh'
                ELSE 'und' END AS predicted_lang
    FROM s
    """,
)
def x4_lang_id(spark, sf_dir):
    """X4 — marker-based language-ID heuristic (functions/text.py:lang_id);
    deterministic argmax with fixed tie order."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        xt.lang_id(F.col("text")).alias("predicted_lang"),
    )


@q(
    "x4_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
             list_concat([CAST(0 AS BIGINT)],
               list_transform(string_split(text, ' '),
                 w -> CAST(length(w) * 31 + unicode(w) AS BIGINT))),
             (h, c) -> (h * {xt.FINGERPRINT_MULT} + c) % {xt.FINGERPRINT_MOD}
           ) AS fp
    FROM documents
    """,
)
def x4_fingerprint(spark, sf_dir):
    """X4 — rolling polynomial document fingerprint, exact BIGINT
    arithmetic (functions/text.py:fingerprint)."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", xt.fingerprint(F.col("text")).alias("fp"))


# =====================================================================
# X5 — multimodal binary columns
# =====================================================================


@q(
    "x5_multimodal_meta",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(octet_length(encode(text)) % 64 + 1 AS INT) AS width,
           CAST(octet_length(encode(text)) % 48 + 1 AS INT) AS height,
           'utf8-text' AS format
    FROM documents
    """,
)
def x5_multimodal_meta(spark, sf_dir):
    """X5 — binary payload + typed metadata struct; the metadata
    columns are scannable without reading the payload (parquet column
    pruning — what makes a 100 TB image manifest browsable)."""
    d = T(spark, sf_dir, "documents")
    mm = xm.to_multimodal(d)
    return mm.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.format").alias("format"),
    )


@q(
    "x5_resize_plan",
    """
    WITH m AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) % 64 + 1 AS INT) AS w,
             CAST(octet_length(encode(text)) % 48 + 1 AS INT) AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(greatest(floor(w * least(32.0 / w, 32.0 / h, 1.0)), 1) AS INT)
             AS out_w,
           CAST(greatest(floor(h * least(32.0 / w, 32.0 / h, 1.0)), 1) AS INT)
             AS out_h,
           round(least(32.0 / w, 32.0 / h, 1.0), 6) AS scale
    FROM m
    """,
)
def x5_resize_plan(spark, sf_dir):
    """X5 — aspect-preserving resize planning as pure metadata math
    (operators/multimodal.py:resize_meta): filterable without reading
    a single payload byte."""
    d = T(spark, sf_dir, "documents")
    planned = xm.resize_meta(xm.to_multimodal(d), 32, 32)
    return planned.select(
        "doc_id",
        F.col("resize_plan.out_w").alias("out_w"),
        F.col("resize_plan.out_h").alias("out_h"),
        F.col("resize_plan.scale").alias("scale"),
    )


@q(
    "x5_frame_sampling",
    """
    WITH p AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n,
             greatest(octet_length(encode(text)) // 4, 1) AS step
      FROM documents
    )
    SELECT doc_id, CAST(u.i AS INT) AS frame_idx,
           hex(encode(substring(text,
             CAST(least(u.i * step, greatest(n - 1, 0)) + 1 AS INT),
             CAST(step AS INT)))) AS frame_hex
    FROM p, unnest(range(0, 4)) AS u(i)
    """,
)
def x5_frame_sampling(spark, sf_dir):
    """X5 — evenly-spaced frame sampling over binary payloads
    (operators/multimodal.py:sample_frames); slice semantics pinned
    in pytest. ORACLE-CONVERTED in round 5 (was rows-only): the
    payload is the utf-8 encoding of PURE-ASCII text (max codepoint
    121 across all sfs — verified), so byte slices equal char
    slices and the oracle replays start = min(i*step, max(n-1,0)),
    len = step via varchar substring + encode; frames surface as
    HEX strings (the s23 lesson: binary→string casts mangle, hex is
    engine-stable)."""
    d = T(spark, sf_dir, "documents")
    frames = xm.sample_frames(xm.to_multimodal(d), n_frames=4)
    return frames.select(
        "doc_id", "frame_idx", F.hex("frame").alias("frame_hex")
    )


@q(
    "x5_multimodal_features",
    """
    WITH p AS (
      SELECT doc_id, string_split(text, '') AS ch,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    f AS (
      SELECT doc_id, n, CAST(u.j AS INT) AS feat_idx,
             n // 8 + CASE WHEN u.j < n % 8 THEN 1 ELSE 0 END AS sz,
             u.j * (n // 8) + least(u.j, n % 8) AS st
      FROM p, unnest(range(0, 8)) AS u(j)
    )
    SELECT f.doc_id, CAST(f.n AS BIGINT) AS n_bytes, feat_idx,
           CASE WHEN sz = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(
                       ch[CAST(st + 1 AS INT):CAST(st + sz AS INT)],
                       c -> greatest(unicode(c), 0))) AS DOUBLE)
                     / CAST(sz AS DOUBLE) END AS feat_val
    FROM f JOIN p USING (doc_id)
    """,
)
def x5_multimodal_features(spark, sf_dir):
    """X5 — Arrow-batched feature extraction over binary payloads
    (operators/multimodal.py:extract_features; decode stubbed with a
    deterministic featurizer, pytest pins the values).
    ORACLE-CONVERTED in round 5 (was rows-only): the fake featurizer
    is numpy array_split + mean — chunk j of n bytes has size
    n//8 + (j < n%8) starting at j*(n//8) + min(j, n%8), and the
    mean of uint8 values is an EXACT float64 (integer partial sums
    < 2^53 are exact under any summation order, one final division)
    — so with pure-ASCII text (bytes == codepoints) the whole thing
    replays in SQL. Features posexplode to (feat_idx, feat_val)
    rows because the driver's value-hash can't digest top-level
    arrays (the round-2 a13 lesson)."""
    d = T(spark, sf_dir, "documents")
    feats = xm.extract_features(xm.to_multimodal(d))
    return feats.select(
        "doc_id",
        "n_bytes",
        F.posexplode("features").alias("feat_idx", "feat_val"),
    )


# =====================================================================
# X6/X7 — training-pipeline ops beyond the reference: deterministic
# splits/sampling and context-length sequence packing
# =====================================================================

# CAST the list_sum: DuckDB sums BIGINT into HUGEINT, which pandas
# materializes as float64 and the driver's value-hash then diverges
# on dtype (round-2 verdict — values were identical).
_BPE_SQL = (
    "CAST(list_sum(list_transform(string_split(text, ' '), "
    "t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT)"
)

_UNIT_HASH_SQL = (
    "(CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0)"
)


@q(
    "x4_token_estimate",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
           {_BPE_SQL} AS n_tokens_bpe
    FROM documents
    """,
)
def x4_token_estimate(spark, sf_dir):
    """X4 — token counting two ways: whitespace words and the
    BPE-ish ceil(len/4) subword estimate
    (functions/text.py:bpe_ish_token_count)."""
    from eco_pulse_lakehouse_spark.functions.text import (
        bpe_ish_token_count,
        token_count,
    )

    d = T(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("bigint"),
        token_count(F.col("text")).cast("bigint").alias("n_tokens_ws"),
        bpe_ish_token_count(F.col("text")).alias("n_tokens_bpe"),
    )


@q(
    "x6_hash_split",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           CASE WHEN {_UNIT_HASH_SQL} < 0.9 THEN 'train'
                WHEN {_UNIT_HASH_SQL} < 0.95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def x6_hash_split(spark, sf_dir):
    """X6 — deterministic train/val/test assignment by id hash
    (operators/sampling.py:hash_split): partitioning-independent,
    rerun-stable — the property df.sample cannot give. Oracle replays
    the same Knuth multiplicative hash in plain BIGINT arithmetic."""
    from eco_pulse_lakehouse_spark.operators.sampling import hash_split

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "lang"
    )
    return hash_split(d, "doc_id")


@q(
    "x6_deterministic_sample",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
    FROM documents
    WHERE {_UNIT_HASH_SQL} < 0.25
    """,
)
def x6_deterministic_sample(spark, sf_dir):
    """X6 — hash-thresholded 25% sample: the same rows survive under
    any partitioning or cluster size
    (operators/sampling.py:deterministic_sample)."""
    from eco_pulse_lakehouse_spark.operators.sampling import (
        deterministic_sample,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "lang"
    )
    return deterministic_sample(d, "doc_id", 0.25)


@q(
    "x7_length_buckets",
    """
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      FROM documents
    ),
    b AS (
      SELECT lang, tok,
             CASE WHEN tok <= 1 THEN CAST(1 AS BIGINT)
                  ELSE CAST(power(2, length(bin(tok - 1))) AS BIGINT)
             END AS bucket
      FROM t
    )
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
           CAST(COUNT(*) * bucket - SUM(tok) AS DOUBLE)
             / CAST(COUNT(*) * bucket AS DOUBLE) AS pad_waste
    FROM b GROUP BY lang, bucket
    """,
)
def x7_length_buckets(spark, sf_dir):
    """X7 — sequence-length bucketing for batched inference/training:
    each document goes to the power-of-two bucket covering its
    whitespace token count (pad-to-bucket batching — the standard
    way to bound padding waste without per-batch dynamic shapes),
    and the report gives per-(lang, bucket) doc counts, real vs
    padded token totals, and the padding-waste fraction the bucket
    ladder buys. INTEGER-EXACT bucket math: next_pow2(tok) =
    2^bitlength(tok-1) as an integer SHIFT — shiftleft(1L,
    length(bin(tok-1))) on the Spark side (ADVICE r05: the earlier
    double F.pow was value-identical below 2^53 but broke the stated
    no-libm discipline); the oracle's power(2, n) cast is exact for
    the same range. Waste is one double division of exact BIGINTs.
    One map-side-combinable aggregation — trivially 100 TB-safe."""
    toks = F.size(F.split(F.col("text"), " ")).cast("bigint")
    bucket = F.when(toks <= 1, F.lit(1).cast("bigint")).otherwise(
        F.call_function(
            "shiftleft",
            F.lit(1).cast("bigint"),
            F.length(F.bin(toks - F.lit(1))).cast("int"),
        ).cast("bigint")
    )
    d = T(spark, sf_dir, "documents").select(
        "lang", toks.alias("tok"), bucket.alias("bucket")
    )
    return d.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("total_tokens"),
        (F.count(F.lit(1)) * F.first("bucket"))
        .cast("bigint")
        .alias("padded_tokens"),
        (
            (F.count(F.lit(1)) * F.first("bucket") - F.sum("tok"))
            .cast("double")
            / (F.count(F.lit(1)) * F.first("bucket")).cast("double")
        ).alias("pad_waste"),
    )


@q(
    "x7_pack_documents",
    f"""
    WITH RECURSIVE d AS (
      SELECT CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(doc_id AS BIGINT) AS doc_id,
             {_BPE_SQL} AS tok,
             row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      FROM documents
    ), pack AS (
      SELECT shard, rn, doc_id, tok, CAST(0 AS BIGINT) AS bin, tok AS used
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.tok,
             CASE WHEN p.used + d.tok > 256 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.used + d.tok > 256 THEN d.tok ELSE p.used + d.tok END
      FROM d JOIN pack p ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT shard, bin, COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM pack GROUP BY shard, bin
    """,
)
def x7_pack_documents(spark, sf_dir):
    """X7 — context-length sequence packing: sharded greedy first-fit
    into 256-token bins (operators/packing.py:pack_documents). The
    oracle replays the identical sequential fold with a recursive CTE
    — an exact value check for an iterative, non-relational operator.
    """
    from eco_pulse_lakehouse_spark.functions.text import bpe_ish_token_count
    from eco_pulse_lakehouse_spark.operators.packing import pack_documents

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"),
        bpe_ish_token_count(F.col("text")).alias("tok"),
    )
    return pack_documents(d, "doc_id", "tok", capacity=256, num_shards=8)


@q(
    "x5_chunked_pages",
    """
    WITH pg AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
             CAST(ceil(length(text) / 64.0) AS INT) AS n_pages
      FROM documents
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS page_idx,
           CAST(length(substring(text, CAST((i - 1) * 64 + 1 AS INT), 64)) AS BIGINT)
             AS page_len,
           md5(substring(text, CAST((i - 1) * 64 + 1 AS INT), 64)) AS page_md5,
           n_pages
    FROM (SELECT doc_id, text, n_pages,
                 unnest(range(1, n_pages + 1)) AS i
          FROM pg) ex
    """,
)
def x5_chunked_pages(spark, sf_dir):
    """X5 — paged payload layout (operators/multimodal.py:
    chunk_payloads, 64-byte pages): every record bounded, pages
    shuffle independently, reassembly at the consumer. Oracle slices
    the VARCHAR twin of the payload — byte == char offsets because
    the corpus is pure ASCII (payload = utf-8 of text); md5 of the
    page bytes matches md5 of the page string."""
    d = T(spark, sf_dir, "documents")
    pages = xm.chunk_payloads(xm.to_multimodal(d), page_bytes=64)
    return pages.select(
        "doc_id",
        "page_idx",
        F.length("page").cast("bigint").alias("page_len"),
        F.md5("page").alias("page_md5"),
        "n_pages",
    )


@q(
    "x3_ivf_bounded",
    f"""
    WITH cents AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
               AS cent_id,
             embedding AS cent_vec
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT 16)
    ),
    cap AS (SELECT greatest(10, count(*) // 16) AS cap_n
            FROM embeddings),
    asg AS (
      SELECT e.vec_id AS vid, e.embedding AS v, c.cent_id,
             {_cos('e.embedding', 'c.cent_vec')} AS cs
      FROM embeddings e CROSS JOIN cents c
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY vid
               ORDER BY cs DESC, cent_id ASC) AS choice
      FROM asg
    ),
    first AS (
      SELECT *, row_number() OVER (PARTITION BY cent_id
               ORDER BY cs DESC, vid ASC) AS pos
      FROM rk WHERE choice = 1
    ),
    lists AS (
      SELECT vid AS c_id, v AS c_vec, cent_id
      FROM first, cap WHERE pos <= cap_n
      UNION ALL
      SELECT r2.vid, r2.v, r2.cent_id
      FROM (SELECT vid FROM first, cap WHERE pos > cap_n) s
      JOIN (SELECT vid, v, cent_id FROM rk WHERE choice = 2) r2
        USING (vid)
    ),
    probes AS (SELECT vid AS q_id, v AS q_vec, cent_id
               FROM rk WHERE choice <= 2),
    scored AS (
      SELECT q_id, c_id, round({_cos('q_vec', 'c_vec')}, 6) AS sim
      FROM probes JOIN lists USING (cent_id)
      WHERE q_id != c_id
    )
    SELECT q_id, c_id, sim, rk FROM (
      SELECT q_id, c_id, sim, CAST(row_number() OVER (
        PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
)
def x3_ivf_bounded(spark, sf_dir):
    """X3 skew path — IVF with bounded inverted lists (overflow
    spills to the second-nearest centroid): worst-case probe cost is
    capped regardless of how lumpy the embedding distribution is
    (operators/similarity.py:ivf_topk_bounded). ORACLE-CONVERTED in
    round 5 (was rows-only): the SQL replays seed centroids, the
    per-list cap ranking (cs DESC, vid ASC), the one-round spill to
    the second-nearest list, and the rounded-cosine rank; the
    cap/recall pytest stays."""
    e = T(spark, sf_dir, "embeddings")
    n = e.count()
    return xs.ivf_topk_bounded(
        e, n_centroids=16, n_probe=2, k=10, max_list_size=max(10, n // 16)
    )


def _cc_label_prop_sql(edges: str = "edges", rounds: int = 18) -> str:
    """Oracle-side connected components WITHOUT the quadratic
    transitive closure (VERDICT r05 item 5 — the recursive-CTE
    ``reach`` materialized every (node, reachable-node) pair, 847 s
    of the sf0.1 sweep): unrolled min-label propagation WITH POINTER
    JUMPING, each round one MATERIALIZED CTE over node-sized tables

      l_{i+1}(v) = min(l_i(v), min_{u~v} l_i(u), l_i(l_i(v)))

    (MATERIALIZED is load-bearing: DuckDB 1.0 inlines plain CTEs per
    reference and each round references its predecessor three times
    — unmaterialized, the plan blows up 3^rounds). Pointer jumping
    converges in ~log2(diameter)+2 rounds (simulated chains: 1000
    nodes → 10, 20000 → 15), so ``rounds``=18 covers any component
    this corpus can produce; and non-convergence is NOT silent: the
    returned ``comp`` CTE appends a poison row (comp = -1) for every
    label that still changed in the final round, turning an
    under-iterated oracle into a visible parity RED, never a wrong
    green. Emits CTEs ``l0..l{rounds}`` plus ``comp (id, comp)``."""
    parts = [f""", l0 AS MATERIALIZED (
      SELECT src AS id, LEAST(src, MIN(dst)) AS comp
      FROM {edges} GROUP BY src
    )"""]
    for i in range(1, rounds + 1):
        prev = f"l{i - 1}"
        parts.append(f""", l{i} AS MATERIALIZED (
      SELECT v.id,
             LEAST(v.comp,
                   COALESCE(nm.m, v.comp),
                   COALESCE(pj.comp, v.comp)) AS comp
      FROM {prev} v
      LEFT JOIN (SELECT e.src AS id, MIN(p.comp) AS m
                 FROM {edges} e JOIN {prev} p ON e.dst = p.id
                 GROUP BY e.src) nm ON nm.id = v.id
      LEFT JOIN {prev} pj ON v.comp = pj.id
    )""")
    parts.append(f""", comp AS (
      SELECT id, comp FROM l{rounds}
      UNION ALL
      SELECT a.id, CAST(-1 AS BIGINT) AS comp
      FROM l{rounds} a JOIN l{rounds - 1} b
        ON a.id = b.id AND a.comp != b.comp
    )""")
    return "".join(parts)


@q(
    "x2_dedup_clusters",
    f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                 list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
               ELSE [] END) AS s
      FROM documents
    ), pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                 AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.2
    ), edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ){_cc_label_prop_sql()}
    SELECT id, comp FROM comp
    """,
)
def x2_dedup_clusters(spark, sf_dir):
    """X2 end-game — near-dup PAIRS resolved into CLUSTERS via
    iterative min-label propagation
    (operators/components.py:connected_components); component id =
    min reachable doc_id. The oracle computes the same fixpoint via
    unrolled pointer-jumping label propagation with a non-convergence
    poison certificate (_cc_label_prop_sql — replaced the quadratic
    recursive-CTE closure, VERDICT r05 item 5) — exact value check
    for an iterative graph operator."""
    from eco_pulse_lakehouse_spark.operators.components import (
        connected_components,
    )

    d = T(spark, sf_dir, "documents")
    pairs = xd.ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.2)
    return connected_components(pairs)


@q(
    "x4_pii_scrub",
    r"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com visit http://u' || CAST(doc_id AS VARCHAR)
                      || '.example.org/page?q=1 call 555-' || CAST(doc_id AS VARCHAR)
                      || ' now',
                 'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b555-[0-9]+\b', '<PHONE>', 'g') AS clean
    FROM documents
    """,
)
def x4_pii_scrub(spark, sf_dir):
    """X4 — PII redaction (functions/text.py:scrub_pii): URL, email
    and phone patterns replaced by typed placeholders via chained
    JVM-side regexp_replace (one codegen span, no UDF). The synthetic
    corpus has no real PII, so the entry first appends a
    deterministic contact string derived from doc_id — both engines
    build and scrub the identical text, making the redaction
    behaviour (not just the no-op path) oracle-checked."""
    from eco_pulse_lakehouse_spark.functions.text import scrub_pii

    d = T(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com visit http://u"), F.col("doc_id").cast("string"),
        F.lit(".example.org/page?q=1 call 555-"), F.col("doc_id").cast("string"),
        F.lit(" now"),
    )
    return d.select(
        F.col("doc_id").cast("bigint"), scrub_pii(dirty).alias("clean")
    )


@q(
    "x4_repetition_stats",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), per_tok AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM toks WHERE tok <> ''
      GROUP BY doc_id, tok
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS top_count,
           1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)
             AS dup_frac
    FROM per_tok GROUP BY doc_id
    """,
)
def x4_repetition_stats(spark, sf_dir):
    """X4 — Gopher-style repetition profile per document
    (operators/quality.py:repetition_stats): token total, distinct
    count, modal-token count, duplicate fraction. Two doc-keyed hash
    aggregations (map-side combinable); the dup_frac division is a
    single IEEE op on exact integers, bit-identical across engines."""
    from eco_pulse_lakehouse_spark.operators.quality import repetition_stats

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return repetition_stats(d, "doc_id", "text")


@q(
    "x6_stratified_sample",
    f"""
    SELECT doc_id, source FROM (
      SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_UNIT_HASH_SQL} ASC, doc_id ASC
             ) AS rn
      FROM documents
    ) ranked WHERE rn <= 40
    """,
)
def x6_stratified_sample(spark, sf_dir):
    """X6 — balanced per-class cap (operators/sampling.py:
    stratified_sample): keep the 40 smallest-hash docs per source.
    One ranking window keyed on the class column; survivors are a
    pure function of the row (partitioning/cluster-size independent),
    which df.sampleBy's per-partition seeding cannot guarantee."""
    from eco_pulse_lakehouse_spark.operators.sampling import stratified_sample

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "source"
    )
    return stratified_sample(d, "source", "doc_id", 40)


@q(
    "x2_edit_distance",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS dist
    FROM documents a JOIN documents b
      ON string_split(a.text, ' ')[1] = string_split(b.text, ' ')[1]
     AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 2
    WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 25
    """,
)
def x2_edit_distance(spark, sf_dir):
    """X2 — edit-distance near-dup, production shape: BLOCK first
    (equi-join on the first token + a length band — candidate
    generation is a hash join, never all-pairs), THEN the quadratic
    ``levenshtein`` refine runs only on candidates and only on a
    40-char prefix (bounded cost per pair). Spark and DuckDB share
    the unit-cost Levenshtein definition, so the refine is
    oracle-exact."""
    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"),
        "text",
        "n_chars",
        F.split(F.col("text"), " ").getItem(0).alias("blk"),
    )
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("ta"),
        F.col("n_chars").alias("ca"),
        "blk",
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("tb"),
        F.col("n_chars").alias("cb"),
        "blk",
    )
    dist = F.levenshtein(F.substring("ta", 1, 40), F.substring("tb", 1, 40))
    return (
        a.join(b, "blk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("ca") - F.col("cb")) <= 2)
        )
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") <= 25)
    )


# =====================================================================
# X4 retrieval adjacency — term relevance / vocabulary budgeting
# =====================================================================


@q(
    "x4_tfidf_topk",
    """
    WITH post AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM post GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, term,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           score, CAST(term_rank AS BIGINT) AS term_rank
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             round(CAST(tf.tf AS DOUBLE) * ln(n.n_docs / dfreq.df), 6)
               AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(CAST(tf.tf AS DOUBLE)
                              * ln(n.n_docs / dfreq.df), 6) DESC,
                        tf.term ASC) AS term_rank
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) WHERE term_rank <= 3
    """,
)
def x4_tfidf_topk(spark, sf_dir):
    """X4 retrieval — top-3 characteristic terms per document by
    tf·idf (operators/retrieval.py:tfidf_topk_terms): inverted-index
    shape, vocabulary-sized df table broadcast back onto postings.
    Scores rounded to 6 decimals on both sides: ln() is 1-ulp
    unstable between JVM Math.log and DuckDB's libm (measured
    ~1% of values), and rounding irrationals is boundary-safe."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        tfidf_topk_terms,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return tfidf_topk_terms(d, "doc_id", "text", k=3)


@q(
    "x4_vocab_coverage",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), counts AS (
      SELECT term, COUNT(*) AS n FROM tok GROUP BY term
    ), vocab AS (
      SELECT term FROM counts ORDER BY n DESC, term ASC LIMIT 20
    )
    SELECT CAST(tok.doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) - COUNT(v.term) AS BIGINT) AS n_oov,
           CAST(COUNT(*) - COUNT(v.term) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM tok LEFT JOIN vocab v ON tok.term = v.term
    GROUP BY tok.doc_id
    """,
)
def x4_vocab_coverage(spark, sf_dir):
    """X4 retrieval — per-document out-of-vocabulary rate against the
    corpus top-20 vocabulary (operators/retrieval.py:vocab_coverage).
    Vocab selection is orderBy+limit → TakeOrderedAndProject (never a
    single-partition global-sort window); the rate is an exact
    rational, so the oracle matches bit-for-bit."""
    from eco_pulse_lakehouse_spark.operators.retrieval import vocab_coverage

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return vocab_coverage(d, "doc_id", "text", vocab_size=20)


_BM25_QUERIES = [
    (1, "hash join merge"),
    (2, "stream window batch"),
    (3, "vector scan filter"),
]

_BM25_QT_VALUES = ", ".join(
    f"({qid}, '{t}')"
    for qid, qtext in _BM25_QUERIES
    for t in qtext.split(" ")
)


# Shared BM25 CTE chain (postings → tf/dl/stats/df → query terms →
# fixed-point contributions) — used by x4_bm25 AND x4_rrf_fusion so
# the two oracles can't drift apart.
_BM25_CTES = f"""
    WITH post AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM post GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ), dfreq AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), qt AS (
      SELECT DISTINCT * FROM (VALUES {_BM25_QT_VALUES}) AS t(query_id, term)
    ), contrib AS (
      SELECT qt.query_id, tf.doc_id,
             CAST(floor(
               round(ln((stats.n_docs - dfreq.df + CAST(0.5 AS DOUBLE))
                          / (dfreq.df + CAST(0.5 AS DOUBLE))
                        + CAST(1.0 AS DOUBLE)), 6)
               * ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
                  / (CAST(tf.tf AS DOUBLE)
                     + CAST(1.2 AS DOUBLE)
                       * (CAST(0.25 AS DOUBLE)
                          + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE)
                            / stats.avgdl)))
               * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS c_fp
      FROM tf
      JOIN qt USING (term)
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    )"""


@q(
    "x4_bm25",
    f"""{_BM25_CTES}
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           score_fp, n_terms_matched, rk
    FROM (
      SELECT query_id, doc_id,
             CAST(SUM(c_fp) AS BIGINT) AS score_fp,
             CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
             CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY SUM(c_fp) DESC, doc_id ASC) AS BIGINT) AS rk
      FROM contrib GROUP BY query_id, doc_id
    ) WHERE rk <= 10
    """,
)
def x4_bm25(spark, sf_dir):
    """X4 retrieval — BM25 top-10 documents for a 3-query literal
    batch (operators/retrieval.py:bm25_topk, k1=1.2 b=0.75).
    Inverted-index shape: the corpus shuffles once into postings;
    the query-term list, df table, and corpus stats broadcast.
    idf is rounded to 6dp (ln is libm-unstable), each contribution
    is floored to a 1e-6 fixed-point BIGINT, and the per-query sum
    is integer — order-independent, so the oracle matches exactly.
    Float literals mirror Python arithmetic: 1.2+1.0 == 2.2 and
    1.0-0.75 == 0.25 bit-exactly (checked)."""
    from eco_pulse_lakehouse_spark.operators.retrieval import bm25_topk

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return bm25_topk(
        d, "doc_id", "text", _BM25_QUERIES, k1=1.2, b=0.75, k=10
    )


@q(
    "x4_rrf_fusion",
    f"""{_BM25_CTES},
    bmc AS (
      SELECT query_id, doc_id, SUM(c_fp) AS s
      FROM contrib GROUP BY query_id, doc_id
    ),
    bm AS (
      SELECT query_id, doc_id, row_number() OVER (
        PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS r
      FROM bmc
    ),
    ovc AS (
      SELECT qt.query_id, tf.doc_id,
             COUNT(*) AS nm, SUM(tf.tf) AS ttf
      FROM tf JOIN qt USING (term)
      GROUP BY qt.query_id, tf.doc_id
    ),
    ov AS (
      SELECT query_id, doc_id, row_number() OVER (
        PARTITION BY query_id
        ORDER BY nm DESC, ttf DESC, doc_id ASC) AS r
      FROM ovc
    ),
    fused AS (
      SELECT COALESCE(b.query_id, o.query_id) AS query_id,
             COALESCE(b.doc_id, o.doc_id) AS doc_id,
             round(
               (CASE WHEN b.r IS NULL THEN 0.0
                     ELSE 1.0 / (60.0 + CAST(b.r AS DOUBLE)) END)
               + (CASE WHEN o.r IS NULL THEN 0.0
                       ELSE 1.0 / (60.0 + CAST(o.r AS DOUBLE)) END),
               9) AS rrf_score
      FROM (SELECT * FROM bm WHERE r <= 20) b
      FULL OUTER JOIN (SELECT * FROM ov WHERE r <= 20) o
        ON b.query_id = o.query_id AND b.doc_id = o.doc_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id, rrf_score, rk
    FROM (
      SELECT query_id, doc_id, rrf_score,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rk
      FROM fused
    ) WHERE rk <= 10
    """,
)
def x4_rrf_fusion(spark, sf_dir):
    """X4 retrieval — HYBRID retrieval via Reciprocal Rank Fusion
    (operators/retrieval.py:rrf_fuse; Cormack et al. 2009): BM25
    top-20 and coordinate-match (term-overlap) top-20 per query,
    fused as Σ 1/(60+rank) over the lists each doc appears in,
    re-ranked, top-10. The two retrievers rank genuinely differently
    (idf+saturation vs raw match counts), so the fusion exercises
    all three cases: both-lists, bm25-only, overlap-only. Fusion
    input is O(queries·N) — corpus never re-touched. Each RRF term
    is 1/(60+integer rank) (identical IEEE doubles cross-engine),
    summed in fixed two-term order, rounded to 9dp BEFORE ranking —
    oracle-exact; the oracle shares _BM25_CTES with x4_bm25 so the
    retriever definitions cannot drift."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        bm25_from_postings,
        bm25_shared_stats,
        query_terms,
        rrf_fuse,
        term_overlap_from_postings,
        term_postings,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    # ONE pinned postings build + shared dl/df_t/stats for both
    # retrievers (r13, guide §2.4): the bm25_topk/term_overlap_topk
    # pair re-tokenized the corpus 5x (the before plan's 5 text
    # scans). term_overlap_topk IS term_overlap_from_postings over
    # term_postings (retrieval.py:249), so the fusion input — and
    # the oracle-checked output — is unchanged row for row.
    q_terms = query_terms(spark, _BM25_QUERIES)
    postings = term_postings(d, "doc_id", "text").localCheckpoint(
        eager=True
    )
    dl, df_t, stats = bm25_shared_stats(postings, "doc_id")
    a = bm25_from_postings(
        postings, "doc_id", q_terms, 1.2, 0.75, 20,
        dl=dl, df_t=df_t, stats=stats,
    )
    b = term_overlap_from_postings(postings, "doc_id", q_terms, k=20)
    return rrf_fuse(a, b, k=10)


# Second scoring pass for the PRF entry: the SAME contribution CTE
# as `contrib`, re-pointed at the expanded term table `qt2`. Derived
# MECHANICALLY from _BM25_CTES' own text (split at the contrib CTE,
# rename the qt references) so the two passes can never drift apart —
# the _BM25_CTES single-source discipline.
_BM25_CONTRIB_BODY = _BM25_CTES.split("contrib AS (", 1)[1]
_BM25_CONTRIB2 = "contrib2 AS (" + _BM25_CONTRIB_BODY.replace(
    "qt.query_id", "qt2.query_id"
).replace("JOIN qt USING (term)", "JOIN qt2 USING (term)")

# The full PRF expansion chain (feedback → expansion terms → widened
# term table → second scoring pass) as a named fragment — shared
# verbatim by x4_prf_expansion and the search-serving flagship.
_PRF_CTES = f"""bmfb AS (
      SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY SUM(c_fp) DESC, doc_id ASC) AS r
        FROM contrib GROUP BY query_id, doc_id
      ) WHERE r <= 5
    ),
    cand AS (
      SELECT f.query_id, t.term,
             CAST(COUNT(*) AS BIGINT) AS fb_df,
             CAST(SUM(t.tf) AS BIGINT) AS fb_tf
      FROM bmfb f JOIN tf t USING (doc_id)
      LEFT JOIN qt ON qt.query_id = f.query_id AND qt.term = t.term
      WHERE qt.term IS NULL
      GROUP BY f.query_id, t.term
    ),
    expt AS (
      SELECT query_id, term FROM (
        SELECT query_id, term,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY fb_df DESC, fb_tf DESC, term ASC) AS r
        FROM cand
      ) WHERE r <= 3
    ),
    qt2 AS (
      SELECT query_id, term FROM qt
      UNION ALL SELECT query_id, term FROM expt
    ),
    {_BM25_CONTRIB2}"""


@q(
    "x4_prf_expansion",
    f"""{_BM25_CTES},
    {_PRF_CTES}
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           score_fp, n_terms_matched, rk
    FROM (
      SELECT query_id, doc_id,
             CAST(SUM(c_fp) AS BIGINT) AS score_fp,
             CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
             CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY SUM(c_fp) DESC, doc_id ASC) AS BIGINT) AS rk
      FROM contrib2 GROUP BY query_id, doc_id
    ) WHERE rk <= 10
    """,
)
def x4_prf_expansion(spark, sf_dir):
    """X4 retrieval — two-pass BM25 with PSEUDO-RELEVANCE-FEEDBACK
    query expansion (operators/retrieval.py:bm25_prf_topk; the RM3
    family, Abdul-Jaleel et al. 2004): BM25 top-5 feedback docs per
    query → 3 expansion terms per query chosen by integer
    (feedback-df, feedback-tf, term) order, original terms excluded →
    BM25 re-run over the widened term set, top-10. Both passes share
    one postings/df/dl/stats build (the corpus shuffles once; the
    second pass only swaps the broadcast term list). The oracle
    composes _BM25_CTES and derives the second contribution CTE
    mechanically from the first's text, so the passes cannot drift;
    every ranking key is integer or 1e-6 fixed-point — exact."""
    from eco_pulse_lakehouse_spark.operators.retrieval import bm25_prf_topk

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return bm25_prf_topk(
        d, "doc_id", "text", _BM25_QUERIES,
        k1=1.2, b=0.75, fb_k=5, n_expand=3, k=10,
    )


def _rrf_budget_tail(
    list_b: str, list_o: str, k: int = 10, budget: int = 300
) -> str:
    """Fusion + budget tail shared VERBATIM by flagship_search_serving
    and flagship_hybrid_serving (and through them the t47/t49
    streaming twins): RRF over two (query_id, doc_id, r) ranklist
    relations, top-``k`` re-rank, per-query token budget cut. Token
    counts come from the postings tf sums (requires the _BM25_CTES
    ``tf`` CTE in scope) — matching the Spark side, which reads the
    PINNED index instead of re-tokenizing the corpus (ADVICE r10);
    sum(tf) per doc equals len(string_split(text, ' ')) under the
    shared single-space tokenizer."""
    return f""",
    fused AS (
      SELECT COALESCE(b.query_id, o.query_id) AS query_id,
             COALESCE(b.doc_id, o.doc_id) AS doc_id,
             round(
               (CASE WHEN b.r IS NULL THEN 0.0
                     ELSE 1.0 / (60.0 + CAST(b.r AS DOUBLE)) END)
               + (CASE WHEN o.r IS NULL THEN 0.0
                       ELSE 1.0 / (60.0 + CAST(o.r AS DOUBLE)) END),
               9) AS rrf_score
      FROM {list_b} b
      FULL OUTER JOIN {list_o} o
        ON b.query_id = o.query_id AND b.doc_id = o.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, rrf_score,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rk
      FROM fused
    ),
    cut AS (SELECT * FROM ranked WHERE rk <= {k}),
    dtok AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens
      FROM tf GROUP BY doc_id
    ),
    budgeted AS (
      SELECT c.query_id, c.doc_id, c.rrf_score, c.rk, d.n_tokens,
             CAST(SUM(d.n_tokens) OVER (PARTITION BY c.query_id
               ORDER BY c.rk ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
      FROM cut c JOIN dtok d USING (doc_id)
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           rrf_score, rk, n_tokens, cum_tokens
    FROM budgeted WHERE cum_tokens <= {budget}
    """


# The PRF-BM25 keyword RANKLIST head (contrib2 sum → per-query
# row_number) — shared VERBATIM by flagship_search_serving and
# flagship_hybrid_serving (the _rrf_budget_tail discipline: the two
# flagships' keyword halves cannot drift).
_BM_RANKLIST_CTES = """bmc2 AS (
      SELECT query_id, doc_id, SUM(c_fp) AS s
      FROM contrib2 GROUP BY query_id, doc_id
    ),
    bm AS (
      SELECT query_id, doc_id, row_number() OVER (
        PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS r
      FROM bmc2
    )"""


@q(
    "flagship_search_serving",
    f"""{_BM25_CTES},
    {_PRF_CTES},
    {_BM_RANKLIST_CTES},
    ovc AS (
      SELECT qt.query_id, tf.doc_id,
             COUNT(*) AS nm, SUM(tf.tf) AS ttf
      FROM tf JOIN qt USING (term)
      GROUP BY qt.query_id, tf.doc_id
    ),
    ov AS (
      SELECT query_id, doc_id, row_number() OVER (
        PARTITION BY query_id
        ORDER BY nm DESC, ttf DESC, doc_id ASC) AS r
      FROM ovc
    )"""
    + _rrf_budget_tail(
        "(SELECT * FROM bm WHERE r <= 20)",
        "(SELECT * FROM ov WHERE r <= 20)",
    ),
)
def flagship_search_serving(spark, sf_dir):
    """Flagship #9 — keyword SEARCH SERVING
    (plans/search_serving.py): ONE pinned postings build → PRF-
    expanded BM25 top-20 (the widened recall pass) → term-overlap
    top-20 over the ORIGINAL terms (the rank-divergent second
    retriever) → Reciprocal Rank Fusion → top-10 → per-query
    300-token budget cut in fused-rank order — the dense twin is
    flagship_rag_context, completing both halves of a hybrid serving
    stack from already-certified stages. The oracle composes
    _BM25_CTES + _PRF_CTES (shared verbatim with x4_bm25 /
    x4_prf_expansion) with x4_rrf_fusion's fusion text — none of the
    retriever definitions can drift. Every stage after the one
    corpus shuffle works on O(queries·k) rows."""
    from eco_pulse_lakehouse_spark.plans.search_serving import (
        search_serving,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return search_serving(d, _BM25_QUERIES)


_HYBRID_QIDS = ", ".join(str(qid) for qid, _ in _BM25_QUERIES)


@q(
    "flagship_hybrid_serving",
    f"""{_BM25_CTES},
    {_PRF_CTES},
    {_BM_RANKLIST_CTES},
    de AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
    dq AS (SELECT vec_id AS q_id, qv AS qa FROM de
           WHERE vec_id IN ({_HYBRID_QIDS})),
    dc AS (SELECT vec_id AS c_id, qv AS qb FROM de),
    dsc AS (
      SELECT q_id, c_id,
             CAST(list_sum(list_transform(range(1, len(qa)+1),
               i -> CAST(qa[i] AS BIGINT) * qb[i])) AS BIGINT) AS qdot
      FROM dq CROSS JOIN dc WHERE q_id != c_id
    ),
    dv AS (
      SELECT q_id AS query_id, c_id AS doc_id, r FROM (
        SELECT q_id, c_id, row_number() OVER (
          PARTITION BY q_id ORDER BY qdot DESC, c_id ASC) AS r
        FROM dsc) WHERE r <= 20
    )"""
    + _rrf_budget_tail("(SELECT * FROM bm WHERE r <= 20)", "dv"),
)
def flagship_hybrid_serving(spark, sf_dir):
    """Flagship #10 — HYBRID keyword + dense SEARCH SERVING
    (plans/hybrid_serving.py): the two certified serving halves fused
    per request — PRF-expanded BM25 top-20 off the pinned postings
    (flagship #9's recall pass, _BM25_CTES + _PRF_CTES shared
    verbatim) and exact-BIGINT int8-dot top-20 off the pinned store
    (x3_quantized_topk's scoring text, _QVEC shared verbatim) —
    through Reciprocal Rank Fusion (x4_rrf_fusion's combiner, here
    ACROSS modalities) into a per-query 300-token budget cut (token
    counts from the pinned postings; _rrf_budget_tail shared verbatim
    with flagship #9). RRF is the right combiner because BM25
    fixed-point sums and int8 dots live on incomparable scales —
    ranks need no calibration. The recall flip (a doc invisible to
    the literal query surfaces through the dense list) is pinned in
    tests/test_northstar.py. Scale: corpus shuffles ONCE per index;
    every post-index stage is O(queries·k) — corpus-size-independent
    serving (the t49 twin streams request batches against both
    pinned artifacts)."""
    from eco_pulse_lakehouse_spark.plans.hybrid_serving import (
        hybrid_serving,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    e = T(spark, sf_dir, "embeddings")
    return hybrid_serving(d, e, _BM25_QUERIES)


@q(
    "x4_rake_keyphrases",
    f"""
    WITH ts AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    tok AS (
      SELECT doc_id, i AS pos, ws[i] AS wd,
             ws[i] IN {_STOPS_SQL} AS is_stop
      FROM ts, unnest(range(1, n + 1)) AS u(i)
    ),
    marked AS (
      SELECT doc_id, pos, wd, is_stop,
             SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
      FROM tok
    ),
    words AS (
      SELECT doc_id, pos, wd, pid FROM marked WHERE NOT is_stop
    ),
    plen AS (
      SELECT doc_id, pid, CAST(COUNT(*) AS BIGINT) AS plen
      FROM words GROUP BY doc_id, pid
    ),
    wstats AS (
      SELECT wd,
             CAST((SUM(plen) * 1000000) // COUNT(*) AS BIGINT) AS wscore
      FROM words JOIN plen USING (doc_id, pid)
      GROUP BY wd
    ),
    phrases AS (
      SELECT doc_id, pid,
             string_agg(wd, ' ' ORDER BY pos) AS phrase,
             CAST(SUM(wscore) AS BIGINT) AS score_fp
      FROM words JOIN wstats USING (wd)
      GROUP BY doc_id, pid
    )
    SELECT phrase, score_fp, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM phrases
    GROUP BY phrase, score_fp
    ORDER BY score_fp DESC, phrase ASC
    LIMIT 20
    """,
)
def x4_rake_keyphrases(spark, sf_dir):
    """X4 — RAKE keyphrase extraction
    (operators/retrieval.py:rake_keyphrases; Rose et al. 2010):
    stopword-delimited candidate phrases, word score = degree/freq
    over all candidates as an integer-div 1e-6 fixed point, phrase
    score = exact BIGINT sum of its words — multi-word domain
    phrases outrank isolated frequent words, the zero-model
    keyphrase miner. One per-doc running-count window (parallel
    across docs), one vocabulary-sized stats aggregation broadcast
    back, TakeOrderedAndProject top-20 — every ranking key integer,
    ties on the phrase string, oracle-exact."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        rake_keyphrases,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return rake_keyphrases(d, "doc_id", "text", top_k=20)


# =====================================================================
# X6 adjacency — train/eval decontamination
# =====================================================================


# Named so the t45 streaming ingest-screen twin carries it verbatim.
_DECON_SQL = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             {_UNIT_HASH_SQL} AS u
      FROM documents
    ), sh AS (
      SELECT doc_id, u,
             unnest(list_distinct(
               CASE WHEN len(t) >= 4 THEN
                 list_transform(range(1, len(t) - 2),
                                i -> array_to_string(t[i:i+3], ' '))
               ELSE [] END)) AS shingle
      FROM toks
    ), ev AS (
      SELECT DISTINCT shingle FROM sh WHERE u >= 0.9
    ), tr AS (
      SELECT doc_id, shingle FROM sh WHERE u < 0.9
    )
    SELECT CAST(tr.doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM tr JOIN ev USING (shingle)
    GROUP BY tr.doc_id
    """


@q("x6_decontaminate", _DECON_SQL)
def x6_decontaminate(spark, sf_dir):
    """X6 — benchmark decontamination: flag train-split documents
    sharing any distinct word 4-gram with the held-out split
    (operators/decontaminate.py). Split assignment reuses the
    Knuth unit hash (train < 0.9 ≤ eval), candidate generation is an
    equi-join on the shingle — never a cross product."""
    from eco_pulse_lakehouse_spark.operators.decontaminate import (
        decontaminate,
    )
    from eco_pulse_lakehouse_spark.operators.sampling import unit_hash

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    u = unit_hash(F.col("doc_id"))
    train = d.filter(u < 0.9)
    eval_set = d.filter(u >= 0.9)
    return decontaminate(train, eval_set, "doc_id", "text", shingle_n=4)


@q(
    "x6_domain_mixture",
    """
    WITH n AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
         w AS (SELECT * FROM (VALUES
            ('en', CAST(0.1 AS DOUBLE)), ('zh', CAST(0.15 AS DOUBLE)),
            ('es', CAST(0.15 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
            ('fr', CAST(0.4 AS DOUBLE))) t(lang, wt))
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
    FROM documents JOIN n USING (lang) JOIN w USING (lang)
    WHERE (CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE)
           / 4294967296.0)
          < least(CAST(1.0 AS DOUBLE),
                  CAST(200.0 AS DOUBLE) * wt / CAST(n_l AS DOUBLE))
    """,
)
def x6_domain_mixture(spark, sf_dir):
    """X6 — target-mixture domain rebalancing
    (operators/sampling.py:domain_mixture_sample): draw ≈200 docs at
    a 10/15/15/20/40 en/zh/es/de/fr recipe. French's target (80)
    exceeds its population (64 at sf0.01) — its fraction caps at 1
    and every fr row survives, pinning the cap branch. Selection is
    the Knuth-hash threshold: partitioning-independent, RNG-free,
    oracle-exact."""
    from eco_pulse_lakehouse_spark.operators.sampling import (
        domain_mixture_sample,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "lang"
    )
    return domain_mixture_sample(
        d,
        "doc_id",
        "lang",
        {"en": 0.1, "zh": 0.15, "es": 0.15, "de": 0.2, "fr": 0.4},
        k=200,
    ).select("doc_id", "lang")


# =====================================================================
# X4 adjacency — hashed linear quality classifier
# =====================================================================


@q(
    "x4_quality_classifier",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), feat AS (
      SELECT doc_id,
        list_reduce(list_concat([CAST(0 AS BIGINT)],
          list_transform(range(1, len(w)+1),
                         i -> CAST(ascii(w[i]) AS BIGINT))),
          (h, c) -> (h * 131 + c) % 1000003) % 64 AS b
      FROM toks
    ), wts AS (
      SELECT doc_id,
        CAST((b * 2654435761) % 1001 - 500 AS DOUBLE) / 1000.0 AS w
      FROM feat
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(CAST(SUM(CAST(w AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS score
      FROM wts GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, score,
           CAST(0.5 AS DOUBLE)
             + score / (CAST(2.0 AS DOUBLE)
                        * (CAST(1.0 AS DOUBLE) + abs(score))) AS prob,
           (CAST(0.5 AS DOUBLE)
             + score / (CAST(2.0 AS DOUBLE)
                        * (CAST(1.0 AS DOUBLE) + abs(score))))
             >= CAST(0.5 AS DOUBLE) AS keep
    FROM agg
    """,
)
def x4_quality_classifier(spark, sf_dir):
    """X4 — hashing-trick linear classifier inference over every
    document (operators/quality.py:hashed_linear_score): token →
    polynomial char hash → 64-bucket weight lookup → decimal-exact
    score sum → RATIONAL sigmoid (½ + s/(2(1+|s|)) — algebraic, so
    bit-identical across engines where exp() is not). The weight
    table is a plan constant (a trained model would broadcast the
    same way); the only shuffle carries (doc_id, partial sums)."""
    from eco_pulse_lakehouse_spark.operators.quality import (
        hashed_linear_score,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return hashed_linear_score(d, "doc_id", "text", n_buckets=64)


@q(
    "x4_bm25_table",
    """
    WITH post AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM post GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ), dfreq AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), qsrc AS (
      SELECT doc_id AS query_id,
             array_to_string((string_split(text, ' '))[1:3], ' ') AS qtext
      FROM documents WHERE doc_id % 97 = 0
    ), qt AS (
      SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term
      FROM qsrc
    ), contrib AS (
      SELECT qt.query_id, tf.doc_id,
             CAST(floor(
               round(ln((stats.n_docs - dfreq.df + CAST(0.5 AS DOUBLE))
                          / (dfreq.df + CAST(0.5 AS DOUBLE))
                        + CAST(1.0 AS DOUBLE)), 6)
               * ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
                  / (CAST(tf.tf AS DOUBLE)
                     + CAST(1.2 AS DOUBLE)
                       * (CAST(0.25 AS DOUBLE)
                          + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE)
                            / stats.avgdl)))
               * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS c_fp
      FROM tf
      JOIN qt USING (term)
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    ), scored AS (
      SELECT query_id, doc_id,
             CAST(SUM(c_fp) AS BIGINT) AS score_fp,
             CAST(COUNT(*) AS BIGINT) AS n_terms_matched
      FROM contrib GROUP BY query_id, doc_id
    ), boosted AS (
      SELECT s.query_id, s.doc_id,
             s.score_fp
               + CASE WHEN contains(' ' || d.text || ' ',
                               ' ' || q.qtext || ' ')
                 THEN CAST(250000 AS BIGINT) ELSE CAST(0 AS BIGINT)
                 END AS total_fp,
             s.score_fp, s.n_terms_matched
      FROM scored s
      JOIN documents d USING (doc_id)
      JOIN qsrc q USING (query_id)
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           total_fp, score_fp, n_terms_matched, rk
    FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY total_fp DESC, doc_id ASC) AS BIGINT) AS rk
      FROM boosted
    ) WHERE rk <= 10
    """,
)
def x4_bm25_table(spark, sf_dir):
    """X4 retrieval — BM25 with a TABLE-driven query batch plus an
    exact-phrase bonus (operators/retrieval.py:bm25_topk_table).
    Queries are derived from the corpus itself (every 97th document's
    first three tokens — a query-log stand-in), so the oracle rebuilds
    the identical batch in SQL. The phrase check runs only on
    term-matched candidates and is token-boundary-safe (space-wrapped
    contains). Bonus joins in the same 1e-6 fixed-point domain as the
    term contributions — integer sums, order-independent."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        bm25_topk_table,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    queries_df = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 3)).alias(
            "query_text"
        ),
    )
    return bm25_topk_table(
        d, "doc_id", "text", queries_df, k1=1.2, b=0.75, k=10
    )


# =====================================================================
# X4 adjacency — RAG chunking
# =====================================================================


@q(
    "x4_chunk_documents",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE doc_id % 37 = 0
    ), s AS (
      SELECT doc_id, toks, unnest(range(0, len(toks), 32)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start // 32 AS INT) AS chunk_id,
           array_to_string(toks[start + 1 : start + 48], ' ') AS chunk_text,
           CAST(len(toks[start + 1 : start + 48]) AS INT) AS n_tokens
    FROM s
    """,
)
def x4_chunk_documents(spark, sf_dir):
    """X4 adjacency — sliding token-window chunking for RAG /
    context-window prep (operators/retrieval.py:chunk_documents,
    48-token chunks, 16-token overlap). Shuffle-free: sequence +
    posexplode + slice are all row-local JVM expressions, so the
    operator scales linearly and pipelines straight into embedding
    or indexing jobs. Every token is covered; adjacent chunks share
    the overlap; the tail chunk may be short."""
    from eco_pulse_lakehouse_spark.operators.retrieval import chunk_documents

    d = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 37 == 0)
        .select(F.col("doc_id"), "text")
    )
    return chunk_documents(d, "doc_id", "text", chunk_tokens=48, overlap=16)


@q(
    "x4_repetition_signals",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    base AS (
      SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)),
                              i -> array_to_string(toks[i:i+1], ' '))
             ELSE [] END AS grams
      FROM t
    ),
    gc AS (
      SELECT doc_id, g, count(*) AS c
      FROM (SELECT doc_id, unnest(grams) AS g FROM base)
      GROUP BY doc_id, g
    ),
    gs AS (
      SELECT doc_id, sum(c) AS total, count(*) AS dist, max(c) AS maxc
      FROM gc GROUP BY doc_id
    )
    SELECT b.doc_id, n_tokens, ttr,
           COALESCE(1.0 - CAST(dist AS DOUBLE) / total, 0.0) AS dup_ngram_frac,
           least(1.0, COALESCE(CAST(maxc * 2 AS DOUBLE) / n_tokens, 0.0))
             AS top_ngram_frac
    FROM base b LEFT JOIN gs USING (doc_id)
    """,
)
def x4_repetition_signals(spark, sf_dir):
    """X4 — intra-document repetition signals (operators/quality.py:
    repetition_signals): type-token ratio, duplicate-bigram fraction,
    top-bigram coverage — the Gopher-style repetition filters that
    gate machine-generated/boilerplate text before expensive dedup.
    Counts explode to (doc, gram) rows and partial-aggregate (never
    a per-doc quadratic scan); every division is one IEEE op on
    exact integers, so the oracle matches bit-for-bit."""
    from eco_pulse_lakehouse_spark.operators.quality import repetition_signals

    d = T(spark, sf_dir, "documents")
    return repetition_signals(d, "doc_id", "text", n=2)


@q(
    "x3_ivfpq_topk",
    f"""
    WITH e AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
    cseeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) AS INT) - 1 AS lc,
             qv AS cent
      FROM (SELECT vec_id, qv FROM e ORDER BY vec_id ASC LIMIT 16)
    ),
    cass AS (
      SELECT vec_id, lc AS list_id FROM (
        SELECT e.vec_id, cs.lc,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_sum(list_transform(range(1, 65),
              i -> CAST(qv[i] - cent[i] AS BIGINT) * CAST(qv[i] - cent[i] AS BIGINT)))
            ASC, cs.lc ASC) AS rn
        FROM e CROSS JOIN cseeds cs) WHERE rn = 1
    ),
    resid AS (
      SELECT e.vec_id, list_id,
             list_transform(range(1, 65), i -> CAST(qv[i] - cent[i] AS INT)) AS r
      FROM e JOIN cass USING (vec_id) JOIN cseeds ON cass.list_id = cseeds.lc
    ),
    rseeds AS (
      -- skip the 16 coarse-seed rows: their residuals are identically
      -- zero and would collapse the codebook (see pq_codebooks
      -- seed_offset)
      SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) AS INT) - 1 AS code, r
      FROM (SELECT vec_id, r FROM resid ORDER BY vec_id ASC LIMIT 16 OFFSET 16)
    ),
    segs AS (SELECT CAST(m AS INT) AS m FROM range(8) t(m)),
    rcb AS (
      SELECT m, code, list_slice(r, m*8+1, m*8+8) AS cent
      FROM segs CROSS JOIN rseeds
    ),
    rsub AS (
      SELECT vec_id, list_id, m, list_slice(r, m*8+1, m*8+8) AS sub
      FROM resid CROSS JOIN segs
    ),
    rdist AS (
      SELECT vec_id, list_id, s.m AS m, rcb.code,
        CAST(list_sum(list_transform(range(1, 9),
          i -> CAST(sub[i] - cent[i] AS BIGINT) * CAST(sub[i] - cent[i] AS BIGINT)))
          AS BIGINT) AS dd
      FROM rsub s JOIN rcb ON s.m = rcb.m
    ),
    enc AS (
      SELECT vec_id, list_id, m, code FROM (
        SELECT vec_id, list_id, m, code, row_number() OVER (
          PARTITION BY vec_id, m ORDER BY dd ASC, code ASC) AS rn
        FROM rdist) WHERE rn = 1
    ),
    qs AS (SELECT vec_id AS q_id, qv FROM e WHERE vec_id < 10),
    probes AS (
      SELECT q_id, qv, lc AS list_id, dotc FROM (
        SELECT q_id, qv, cs.lc,
          CAST(list_sum(list_transform(range(1, 65),
            i -> CAST(qv[i] AS BIGINT) * cent[i])) AS BIGINT) AS dotc,
          row_number() OVER (PARTITION BY q_id ORDER BY
            list_sum(list_transform(range(1, 65),
              i -> CAST(qv[i] - cent[i] AS BIGINT) * CAST(qv[i] - cent[i] AS BIGINT)))
            ASC, cs.lc ASC) AS rn
        FROM qs CROSS JOIN cseeds cs) WHERE rn <= 2
    ),
    lut AS (
      SELECT q_id, list_id, dotc, rcb.m AS m, rcb.code AS code,
        CAST(list_sum(list_transform(range(1, 9),
          i -> CAST(list_slice(qv, rcb.m*8+1, rcb.m*8+8)[i] AS BIGINT) * cent[i]))
          AS BIGINT) AS pdot
      FROM probes CROSS JOIN rcb
    ),
    scored AS (
      SELECT q_id, e2.vec_id AS c_id,
             CAST(max(dotc) + sum(pdot) AS BIGINT) AS score
      FROM enc e2 JOIN lut ON e2.list_id = lut.list_id
                          AND e2.m = lut.m AND e2.code = lut.code
      WHERE q_id != e2.vec_id
      GROUP BY q_id, e2.vec_id
    )
    SELECT q_id, c_id, score, rk FROM (
      SELECT q_id, c_id, score, CAST(row_number() OVER (
        PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rk
      FROM scored) WHERE rk <= 10
    """,
)
def x3_ivfpq_topk(spark, sf_dir):
    """X3 — IVF-PQ top-10 (operators/similarity.py:ivfpq_topk), the
    FAISS-IVFADC composition: integer coarse k-means partitions
    vectors into 16 inverted lists; each vector stores list id + PQ
    codes of its RESIDUAL; queries probe the 2 nearest lists and
    score candidates as exact dot(q, centroid) + BIGINT ADC over the
    residual codebook. Candidate generation is an equi-join on the
    list id — the billion-scale shape. Seed codebooks keep every
    stage exact-integer, so this composed index is oracle-EXACT;
    trained variants are recall-pinned in pytest."""
    e = T(spark, sf_dir, "embeddings")
    qz = xs.quantize_embeddings(e, "embedding", "q_vec", n_levels=127)
    qs_ = qz.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "q_vec"
    )
    return xs.ivfpq_topk(
        qz, qs_, "vec_id", "q_vec", "q_id",
        n_lists=16, m_segments=8, k_codes=16, dim=64, n_probe=2, k=10,
    )


@q(
    "x4_collocations",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    uni AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    nuni AS (SELECT sum(c) AS n FROM uni),
    grams AS (
      SELECT unnest(CASE WHEN len(string_split(text, ' ')) >= 2 THEN
               list_transform(range(1, len(string_split(text, ' '))),
                 i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))
             ELSE [] END) AS g
      FROM documents
    ),
    nbi AS (SELECT count(*) AS n FROM grams),
    big AS (
      SELECT g, count(*) AS c12 FROM grams GROUP BY g HAVING count(*) >= 5
    )
    SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2, c12,
           round(ln(CAST(c12 * nuni.n * nuni.n AS DOUBLE)
                    / CAST(nbi.n * u1.c * u2.c AS DOUBLE)), 6) AS pmi
    FROM big
    JOIN uni u1 ON split_part(g, ' ', 1) = u1.w
    JOIN uni u2 ON split_part(g, ' ', 2) = u2.w
    CROSS JOIN nuni CROSS JOIN nbi
    """,
)
def x4_collocations(spark, sf_dir):
    """X4 — PMI collocation mining (operators/retrieval.py:
    collocations_pmi): the statistical phrase detector for
    vocab/tokenizer construction. Exact BIGINT count products, one
    division, one ln rounded 6dp (the transcendental-parity rule) —
    oracle-exact; min_count filters before any join so rare noise
    never shuffles."""
    from eco_pulse_lakehouse_spark.operators.retrieval import collocations_pmi

    d = T(spark, sf_dir, "documents")
    return collocations_pmi(d, "doc_id", "text", min_count=5)


@q(
    "x3_embedding_pool",
    """
    WITH ex AS (
      SELECT label, r.pos AS pos, r.x AS x FROM (
        SELECT label,
               unnest(list_transform(range(1, len(embedding) + 1),
                 i -> {'pos': i - 1, 'x': CAST(embedding[i] AS DOUBLE)})) AS r
        FROM embeddings
      )
    ),
    per_dim AS (
      SELECT label, pos,
             CAST(sum(CAST(round(x * 1e12) AS BIGINT)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) / 1e12 AS m
      FROM ex GROUP BY label, pos
    )
    SELECT label, CAST(pos AS BIGINT) AS pos, m AS component
    FROM per_dim
    """,
)
def x3_embedding_pool(spark, sf_dir):
    """X3 — per-group mean-pooled embeddings (operators/similarity.py:
    pool_embeddings): the chunk→document pooling step. 1e-12
    fixed-point BIGINT component sums make the float mean
    order-independent and oracle-exact under any partitioning
    (double→DECIMAL casts were NOT portable: Spark rounds HALF_UP,
    DuckDB half-even — measured one 13th-digit mismatch per ~100
    components). Output is posexploded to (label, pos, component)
    rows — top-level array columns break the driver's pandas
    canonicalizer (round-2 verdict)."""
    e = T(spark, sf_dir, "embeddings")
    pooled = xs.pool_embeddings(e, "label", "embedding")
    return pooled.select(
        "label",
        F.posexplode("pooled").alias("pos", "component"),
    ).withColumn("pos", F.col("pos").cast("bigint"))


@q(
    "x4_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    lm AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    nt AS (SELECT sum(c) AS n FROM lm),
    fp AS (
      SELECT doc_id,
             CAST(round(-ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000)
                  AS BIGINT) AS s
      FROM tok JOIN lm USING (w) CROSS JOIN nt
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000.0, 6) AS avg_surprisal
    FROM fp GROUP BY doc_id
    """,
)
def x4_unigram_logprob(spark, sf_dir):
    """X4 — CCNet-style perplexity filter (operators/retrieval.py:
    unigram_logprob_score): per-doc average token surprisal under a
    unigram LM. Fixed-point 1e-6 surprisal terms summed as exact
    BIGINTs (order-independent — the BM25 rule for ln), one final
    division. Oracle-exact."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        unigram_logprob_score,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return unigram_logprob_score(d, "doc_id", "text")


# CCNet perplexity-bucket CTE chain — shared by x4_perplexity_buckets,
# flagship_tokenizer_pipeline (which composes it with the WP rounds
# over the kept head+middle docs) and flagship_data_factory (which
# runs it over the CLEANED document set, hence the src parameter).
def _ppx_ctes(src: str = "documents") -> str:
    return f"""tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM {src}
    ),
    lm AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    nt AS (SELECT sum(c) AS n FROM lm),
    fp AS (
      SELECT doc_id,
             CAST(round(-ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000)
                  AS BIGINT) AS s
      FROM tok JOIN lm USING (w) CROSS JOIN nt
    ),
    sc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / 1000000.0, 6) AS avg_surprisal
      FROM fp GROUP BY doc_id
    ),
    bucketed AS MATERIALIZED (
      SELECT d.doc_id, d.lang, sc.n_tokens, sc.avg_surprisal,
             CAST(ntile(3) OVER (
               PARTITION BY d.lang
               ORDER BY sc.avg_surprisal ASC, d.doc_id ASC) AS INT)
               AS ppx_bucket
      FROM {src} d JOIN sc ON d.doc_id = sc.doc_id
    )"""


_PPX_CTES = _ppx_ctes("documents")


@q(
    "x4_perplexity_buckets",
    f"""
    WITH {_PPX_CTES}
    SELECT doc_id, lang, n_tokens, avg_surprisal, ppx_bucket
    FROM bucketed
    """,
)
def x4_perplexity_buckets(spark, sf_dir):
    """X4 — CCNet head/middle/tail perplexity buckets (operators/
    retrieval.py:perplexity_buckets, Wenzek et al. 2020): per-LANGUAGE
    ntile terciles over unigram surprisal — the quality gate between
    dedup and selection (train on the head, drop the tail). The Spark
    side never runs a single-task per-language sort: rank comes from
    the distributed global_row_number (o4 pattern) over
    (lang, avg_surprisal, doc_id), per-language (base, count)
    broadcast, and the bucket is exact-ntile ARITHMETIC (pinned ≡
    F.ntile in pytest); the oracle uses the builtin ntile over the
    identical total order."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        perplexity_buckets,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text", "lang"
    )
    return perplexity_buckets(d, "doc_id", "text", "lang", n_buckets=3)


@q(
    "x4_bigram_logprob",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, list_extract(toks, i) AS prev,
             list_extract(toks, i + 1) AS cur
      FROM (
        SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        FROM t WHERE len(toks) >= 2
      )
    ),
    cbg AS (SELECT prev, cur, count(*) AS cb FROM bg GROUP BY prev, cur),
    cctx AS (SELECT prev, count(*) AS cn FROM bg GROUP BY prev),
    fp AS (
      SELECT doc_id,
             CAST(round(-ln(CAST(cb AS DOUBLE) / CAST(cn AS DOUBLE))
                        * 1000000) AS BIGINT) AS s
      FROM bg JOIN cbg USING (prev, cur) JOIN cctx USING (prev)
    ),
    agg AS (
      SELECT doc_id, count(*) AS nb, sum(s) AS ss FROM fp GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
           CASE WHEN nb > 0 THEN
             round(CAST(ss AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000.0, 6)
           END AS avg_surprisal
    FROM (SELECT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)
    """,
)
def x4_bigram_logprob(spark, sf_dir):
    """X4 — conditional bigram cross-entropy (operators/retrieval.py:
    bigram_logprob_score), the order-sensitive stage above the
    unigram filter: −ln p(w_i | w_{i−1}) with p = c(v w)/c(v ·),
    bigrams built row-locally from the token array (no self-join).
    Same 1e-6 fixed-point BIGINT determinism contract as
    x4_unigram_logprob; short docs surface with n_bigrams = 0
    instead of vanishing. Oracle-exact."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        bigram_logprob_score,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return bigram_logprob_score(d, "doc_id", "text")


_BPE_MERGES = 6


def _bpe_sql(n_merges: int, final: str = "merges") -> str:
    """Unrolled BPE oracle: n_merges chained rounds. Each round's CTEs
    are MATERIALIZED — seg_{r-1} is referenced twice (pairs_r and
    seg_r), so plain CTE inlining would blow up 2^rounds, the same
    trap _cc_label_prop_sql hit. The merge fold uses a LIST
    accumulator via the list_concat([init], ...) prepend (DuckDB
    list_reduce seeds from the first element; struct accumulators
    alias in place — see the a19 countmin note).

    ``final='merges'`` emits the learned merge table (x4_bpe_merges);
    ``final='segments'`` emits the round-n vocabulary segmentation
    (x4_bpe_segment) — same rounds, different tap point."""
    s = """
    WITH wf AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) > 0
      GROUP BY w
    ),
    seg_0 AS MATERIALIZED (
      SELECT w, f, list_transform(range(1, length(w)+1), i -> w[i:i]) AS seg
      FROM wf
    )"""
    for r in range(1, n_merges + 1):
        s += f""",
    pairs_{r} AS MATERIALIZED (
      SELECT p['left_sym'] AS left_sym, p['right_sym'] AS right_sym,
             CAST(SUM(f) AS BIGINT) AS pair_count
      FROM (
        SELECT f, unnest(list_transform(range(1, len(seg)), i ->
          {{'left_sym': seg[i], 'right_sym': seg[i+1]}})) AS p
        FROM seg_{r - 1}
      )
      GROUP BY 1, 2
    ),
    best_{r} AS MATERIALIZED (
      SELECT left_sym, right_sym, pair_count FROM pairs_{r}
      ORDER BY pair_count DESC, left_sym ASC, right_sym ASC LIMIT 1
    ),
    seg_{r} AS MATERIALIZED (
      SELECT s.w, s.f, list_reduce(
          list_concat([CAST([] AS VARCHAR[])], list_transform(s.seg, x -> [x])),
          (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.left_sym
                            AND x[1] = b.right_sym
                      THEN list_concat(acc[1:len(acc)-1], [acc[-1] || x[1]])
                      ELSE list_concat(acc, x) END) AS seg
      FROM seg_{r - 1} s, best_{r} b
    )"""
    if final == "segments":
        return s + f"""
    SELECT w, array_to_string(seg, '|') AS seg_str,
           CAST(len(seg) AS INT) AS n_pieces
    FROM seg_{n_merges}
    """
    if final == "token_counts":
        return s + f"""
    , tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(s.seg)) AS BIGINT) AS n_bpe_tokens
    FROM (SELECT * FROM tok WHERE length(w) > 0) t
    JOIN seg_{n_merges} s USING (w)
    GROUP BY t.doc_id
    """
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS merge_round, left_sym, right_sym, "
        f"pair_count FROM best_{r}"
        for r in range(1, n_merges + 1)
    )
    return s + f"""
    SELECT * FROM (
      {unions}
    ) ORDER BY merge_round
    """


@q("x4_bpe_merges", _bpe_sql(_BPE_MERGES))
def x4_bpe_merges(spark, sf_dir):
    """X4 — BPE tokenizer training (operators/bpe.py): learn the
    first 6 merge rules over the documents corpus. One corpus scan
    builds the (word, freq) table; each round is a vocab-sized
    pair-count groupBy + a ONE-ROW argmax collect + an O(|word|)
    merge fold (HOF, no UDF) — the HF-trainer decomposition, the only
    one that survives 100 TB. Greedy argmax ties break (count desc,
    left asc, right asc) on exact BIGINTs and binary-collated ASCII,
    so the learned merge table is bit-identical cross-engine: the
    oracle replays all 6 rounds with MATERIALIZED unrolled CTEs (the
    _cc_label_prop_sql discipline)."""
    from eco_pulse_lakehouse_spark.operators.bpe import learn_bpe_merges

    d = T(spark, sf_dir, "documents").select("text")
    return learn_bpe_merges(d, "text", n_merges=_BPE_MERGES)


@q("x4_bpe_segment", _bpe_sql(_BPE_MERGES, final="segments"))
def x4_bpe_segment(spark, sf_dir):
    """X4 — BPE inference (operators/bpe.py:segment_words): learn the
    6 merges, then segment the VOCABULARY (never the token stream —
    segmentations join back by word). Pieces are pipe-joined so the
    array compares engine-neutrally. Oracle taps the same unrolled
    rounds as x4_bpe_merges at seg_6 instead of the best_r union."""
    from eco_pulse_lakehouse_spark.operators.bpe import (
        learn_bpe_merges,
        segment_words,
    )

    d = T(spark, sf_dir, "documents").select("text")
    merges = [
        (r.left_sym, r.right_sym)
        for r in learn_bpe_merges(d, "text", n_merges=_BPE_MERGES)
        .orderBy("merge_round")
        .collect()
    ]
    return segment_words(d, merges).select(
        "w",
        F.array_join("seg", "|").alias("seg_str"),
        F.size("seg").cast("int").alias("n_pieces"),
    )


@q("x4_bpe_token_count", _bpe_sql(_BPE_MERGES, final="token_counts"))
def x4_bpe_token_count(spark, sf_dir):
    """X4 — per-document token counts under the LEARNED tokenizer:
    the corpus's whitespace tokens equi-join the vocab-sized
    segmentation table (broadcast at scale — the merges never re-run
    per token), then one map-side-combinable groupBy per doc. The
    token-budgeting pass a packing/curriculum stage actually needs —
    functions/text.py's bpe_ish_token_count is the ceil(len/4)
    ESTIMATE; this is the exact count under the trained merges.
    Oracle taps the shared unrolled rounds at seg_6 joined back to
    the token stream."""
    from eco_pulse_lakehouse_spark.functions.text import tokens as _toks
    from eco_pulse_lakehouse_spark.operators.bpe import (
        learn_bpe_merges,
        segment_words,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    merges = [
        (r.left_sym, r.right_sym)
        for r in learn_bpe_merges(d, "text", n_merges=_BPE_MERGES)
        .orderBy("merge_round")
        .collect()
    ]
    seg = segment_words(d, merges)
    tok = d.select(
        "doc_id", F.explode(_toks(F.col("text"))).alias("w")
    ).filter(F.length("w") > 0)
    return (
        tok.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.size("seg")).cast("bigint").alias("n_bpe_tokens"),
        )
    )


def _wp_sql(
    n_merges: int, final: str = "merges", src: str = "documents",
    with_kw: str = "WITH ",
) -> str:
    """Unrolled WORDPIECE oracle: the BPE rounds (_bpe_sql) with the
    likelihood-ratio argmax — each round additionally materializes
    the vocab-sized symbol-count table, and best_r maximizes the
    exact BIGINT fixed point (pair_count · 10¹²) // (count(left) ·
    count(right)) with (score desc, pair_count desc, left, right)
    tie-break. Same MATERIALIZED discipline (seg_{r−1} is referenced
    by syms_r, pairs_r, AND seg_r — plain inlining would blow up
    3^rounds). ``final`` taps the rounds like _bpe_sql: 'merges'
    (default), 'segments' (seg_n vocabulary split), 'token_counts'
    (per-doc exact counts under the learned WP merges)."""
    s = f"""
    {with_kw}wf AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM {src})
      WHERE length(w) > 0
      GROUP BY w
    ),
    seg_0 AS MATERIALIZED (
      SELECT w, f, list_transform(range(1, length(w)+1), i -> w[i:i]) AS seg
      FROM wf
    )"""
    for r in range(1, n_merges + 1):
        s += f""",
    syms_{r} AS MATERIALIZED (
      SELECT sym, CAST(SUM(f) AS BIGINT) AS sym_count
      FROM (SELECT f, unnest(seg) AS sym FROM seg_{r - 1})
      GROUP BY sym
    ),
    pairs_{r} AS MATERIALIZED (
      SELECT p['left_sym'] AS left_sym, p['right_sym'] AS right_sym,
             CAST(SUM(f) AS BIGINT) AS pair_count
      FROM (
        SELECT f, unnest(list_transform(range(1, len(seg)), i ->
          {{'left_sym': seg[i], 'right_sym': seg[i+1]}})) AS p
        FROM seg_{r - 1}
      )
      GROUP BY 1, 2
    ),
    best_{r} AS MATERIALIZED (
      SELECT p.left_sym, p.right_sym, p.pair_count,
             (p.pair_count * CAST(1000000000000 AS BIGINT))
               // (l.sym_count * rr.sym_count) AS score_fp
      FROM pairs_{r} p
      JOIN syms_{r} l ON p.left_sym = l.sym
      JOIN syms_{r} rr ON p.right_sym = rr.sym
      ORDER BY score_fp DESC, p.pair_count DESC,
               p.left_sym ASC, p.right_sym ASC LIMIT 1
    ),
    seg_{r} AS MATERIALIZED (
      SELECT s.w, s.f, list_reduce(
          list_concat([CAST([] AS VARCHAR[])], list_transform(s.seg, x -> [x])),
          (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.left_sym
                            AND x[1] = b.right_sym
                      THEN list_concat(acc[1:len(acc)-1], [acc[-1] || x[1]])
                      ELSE list_concat(acc, x) END) AS seg
      FROM seg_{r - 1} s, best_{r} b
    )"""
    if final == "segments":
        return s + f"""
    SELECT w, array_to_string(seg, '|') AS seg_str,
           CAST(len(seg) AS INT) AS n_pieces
    FROM seg_{n_merges}
    """
    if final == "token_counts":
        return s + f"""
    , tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM {src}
    )
    SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(s.seg)) AS BIGINT) AS n_wp_tokens
    FROM (SELECT * FROM tok WHERE length(w) > 0) t
    JOIN seg_{n_merges} s USING (w)
    GROUP BY t.doc_id
    """
    if final == "none":
        return s  # bare CTE chain ending at seg_{n_merges} (composition)
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS merge_round, left_sym, right_sym, "
        f"pair_count, score_fp FROM best_{r}"
        for r in range(1, n_merges + 1)
    )
    return s + f"""
    SELECT * FROM (
      {unions}
    ) ORDER BY merge_round
    """


_SP_L = 4  # max piece length (mirrors unigram_viterbi_segment)
_SP_MAXLEN = 16  # DP unroll depth — corpus max word length is 8


def _sp_round_sql(r: int, lm: str) -> str:
    """One Viterbi round over LM table ``lm`` (piece, lp) — FULLY
    RELATIONAL unrolled DP, no list lambdas anywhere: DuckDB 1.0.0's
    multithreaded evaluation of nested lambdas inside list_reduce is
    NONDETERMINISTIC (measured: 3 runs of the fold-based form gave 3
    different outputs at threads=8, identical at threads=1), so the
    oracle unrolls positions 1.._SP_MAXLEN as MATERIALIZED CTEs — the
    _cc_label_prop/_bpe_sql discipline. dpos_{{r}}_k holds the best
    (score, backptr) for every word position ≤ k; the argmax is a
    row_number window ordered (score DESC, start DESC) — identical to
    the Spark side's struct-lexicographic (s, b) max. The backtrace
    walks _SP_MAXLEN relational steps; the segmentation rebuilds via
    ordered window sums, never a fold."""
    s = f""",
    sl_{r} AS MATERIALIZED (
      SELECT s.w, s.f, s.j, s.l, m.lp
      FROM subs s JOIN {lm} m USING (piece)
    ),
    dpos_{r}_0 AS MATERIALIZED (
      SELECT w, f, 0 AS i, CAST(0 AS BIGINT) AS s, 0 AS b FROM wf
    )"""
    for k in range(1, _SP_MAXLEN + 1):
        s += f""",
    dpos_{r}_{k} AS MATERIALIZED (
      SELECT * FROM dpos_{r}_{k - 1}
      UNION ALL
      SELECT w, f, i, s, b FROM (
        SELECT d.w, d.f, {k} AS i, d.s + l.lp AS s, d.i AS b,
               row_number() OVER (PARTITION BY d.w
                 ORDER BY d.s + l.lp DESC, d.i DESC) AS rn
        FROM dpos_{r}_{k - 1} d
        JOIN sl_{r} l ON l.w = d.w AND l.j = d.i AND l.l = {k} - d.i
        WHERE {k} - d.i BETWEEN 1 AND {_SP_L}
      ) WHERE rn = 1
    )"""
    s += f""",
    bt_{r}_0 AS MATERIALIZED (
      SELECT w, f, CAST(length(w) AS INT) AS cur,
             CAST([] AS INT[]) AS lens
      FROM wf
    )"""
    for t in range(1, _SP_MAXLEN + 1):
        s += f""",
    bt_{r}_{t} AS MATERIALIZED (
      SELECT b.w, b.f,
             CASE WHEN b.cur > 0 THEN d.b ELSE b.cur END AS cur,
             CASE WHEN b.cur > 0
                  THEN list_prepend(b.cur - d.b, b.lens)
                  ELSE b.lens END AS lens
      FROM bt_{r}_{t - 1} b
      JOIN dpos_{r}_{_SP_MAXLEN} d ON d.w = b.w AND d.i = b.cur
    )"""
    s += f""",
    pieces_{r} AS MATERIALIZED (
      SELECT w, f, k, l,
             CAST(COALESCE(SUM(l) OVER (PARTITION BY w ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS INT) AS off,
             CAST(n AS INT) AS n_pieces
      FROM (
        SELECT w, f, u.k, lens[k] AS l, len(lens) AS n
        FROM bt_{r}_{_SP_MAXLEN}, unnest(range(1, len(lens)+1)) AS u(k)
      )
    ),
    seg_r{r} AS MATERIALIZED (
      SELECT p.w, p.f, p.n_pieces,
             string_agg(p.w[p.off + 1 : p.off + p.l], '|' ORDER BY p.k)
               AS seg_str,
             max(d.s) AS best_fp
      FROM pieces_{r} p
      JOIN dpos_{r}_{_SP_MAXLEN} d
        ON d.w = p.w AND d.i = length(p.w)
      GROUP BY p.w, p.f, p.n_pieces
    )"""
    return s


def _sp_sql(em_rounds: int) -> str:
    """Unrolled SentencePiece-unigram Viterbi oracle: seed LM from
    frequency-weighted substring counts, then ``em_rounds`` hard-EM
    re-estimations (recount pieces from the round's segmentations,
    characters floored at count 1 — Kudo's alphabet invariant).

    The DP unrolls _SP_MAXLEN positions, so a vocab word LONGER than
    _SP_MAXLEN would silently vanish from the oracle (the Spark side
    handles any length) — the final SELECT therefore raises via
    error() if such a word exists, turning a testdata regeneration
    into a loud failure instead of a row-count mismatch."""
    s = f"""
    WITH wf AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) > 0
      GROUP BY w
    ),
    subs AS MATERIALIZED (
      SELECT w, f, CAST(j AS INT) AS j, CAST(l AS INT) AS l,
             w[j+1 : j+l] AS piece
      FROM wf,
           unnest(range(0, length(w))) AS u(j),
           unnest(range(1, least({_SP_L}, length(w) - j) + 1)) AS v(l)
    ),
    pc_0 AS MATERIALIZED (
      SELECT piece, CAST(SUM(f) AS BIGINT) AS c FROM subs GROUP BY piece
    ),
    lm_0 AS MATERIALIZED (
      SELECT piece,
             CAST(round(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                        * 1000000) AS BIGINT) AS lp
      FROM pc_0 CROSS JOIN (SELECT SUM(c) AS t FROM pc_0)
    )"""
    s += _sp_round_sql(0, "lm_0")
    for r in range(1, em_rounds + 1):
        s += f""",
    used_{r} AS MATERIALIZED (
      SELECT piece, CAST(SUM(f) AS BIGINT) AS c
      FROM (SELECT f, unnest(string_split(seg_str, '|')) AS piece
            FROM seg_r{r - 1})
      GROUP BY piece
    ),
    pc_{r} AS MATERIALIZED (
      SELECT COALESCE(u.piece, a.piece) AS piece,
             COALESCE(u.c, CAST(1 AS BIGINT)) AS c
      FROM used_{r} u
      FULL OUTER JOIN (SELECT DISTINCT piece FROM subs WHERE l = 1) a
        ON u.piece = a.piece
    ),
    lm_{r} AS MATERIALIZED (
      SELECT piece,
             CAST(round(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                        * 1000000) AS BIGINT) AS lp
      FROM pc_{r} CROSS JOIN (SELECT SUM(c) AS t FROM pc_{r})
    )"""
        s += _sp_round_sql(r, f"lm_{r}")
    return s + f"""
    SELECT w, f, n_pieces, seg_str, best_fp FROM seg_r{em_rounds}
    WHERE CASE WHEN (SELECT max(length(w)) FROM wf) > {_SP_MAXLEN}
               THEN error('vocab word exceeds _SP_MAXLEN={_SP_MAXLEN} — '
                          'raise the DP unroll in _sp_sql')
               ELSE TRUE END
    """


@q("x4_wordpiece_segment", _wp_sql(_BPE_MERGES, final="segments"))
def x4_wordpiece_segment(spark, sf_dir):
    """X4 — WordPiece inference: learn the 6 likelihood-scored
    merges, segment the VOCABULARY (segmentations join back by word
    — segment_words applies merges identically whatever objective
    chose them). Oracle taps the same unrolled WP rounds at seg_6."""
    from eco_pulse_lakehouse_spark.operators.bpe import (
        learn_wordpiece_merges,
        segment_words,
    )

    d = T(spark, sf_dir, "documents").select("text")
    merges = [
        (r.left_sym, r.right_sym)
        for r in learn_wordpiece_merges(d, "text", n_merges=_BPE_MERGES)
        .orderBy("merge_round")
        .collect()
    ]
    return segment_words(d, merges).select(
        "w",
        F.array_join("seg", "|").alias("seg_str"),
        F.size("seg").cast("int").alias("n_pieces"),
    )


@q("x4_wordpiece_token_count", _wp_sql(_BPE_MERGES, final="token_counts"))
def x4_wordpiece_token_count(spark, sf_dir):
    """X4 — per-document exact token counts under the LEARNED
    WordPiece merges: whitespace tokens equi-join the vocab-sized
    segmentation (broadcast at scale), one map-side-combinable
    per-doc groupBy — the x4_bpe_token_count twin under the
    likelihood objective, for tokenizer A/B cost comparisons."""
    from eco_pulse_lakehouse_spark.functions.text import tokens as _toks
    from eco_pulse_lakehouse_spark.operators.bpe import (
        learn_wordpiece_merges,
        segment_words,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    merges = [
        (r.left_sym, r.right_sym)
        for r in learn_wordpiece_merges(d, "text", n_merges=_BPE_MERGES)
        .orderBy("merge_round")
        .collect()
    ]
    seg = segment_words(d, merges)
    tok = d.select(
        "doc_id", F.explode(_toks(F.col("text"))).alias("w")
    ).filter(F.length("w") > 0)
    return (
        tok.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.size("seg")).cast("bigint").alias("n_wp_tokens"),
        )
    )


_FLAGSHIP_TOKENIZER_SQL = (
    "WITH "
    + _PPX_CTES
    + """,
    keep AS MATERIALIZED (
      SELECT doc_id, lang, ppx_bucket FROM bucketed WHERE ppx_bucket <= 2
    ),
    kdocs AS MATERIALIZED (
      SELECT d.doc_id, d.text FROM documents d
      JOIN keep USING (doc_id)
    ),
    """
    + _wp_sql(_BPE_MERGES, final="none", src="kdocs", with_kw="")
    + f"""
    , ktok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM kdocs
    ),
    cnt AS (
      SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(len(s.seg)) AS BIGINT) AS n_wp_tokens
      FROM (SELECT * FROM ktok WHERE length(w) > 0) t
      JOIN seg_{_BPE_MERGES} s USING (w)
      GROUP BY t.doc_id
    )
    SELECT c.doc_id, k.lang, k.ppx_bucket, c.n_words, c.n_wp_tokens
    FROM cnt c JOIN keep k USING (doc_id)
    """
)


@q("flagship_tokenizer_pipeline", _FLAGSHIP_TOKENIZER_SQL)
def flagship_tokenizer_pipeline(spark, sf_dir):
    """Flagship #7 — the composed TOKENIZER pipeline
    (plans/tokenizer.py): CCNet perplexity buckets gate the corpus
    (keep head+middle, drop the tail), WordPiece trains on the KEPT
    text only, and every kept doc gets its EXACT token count under
    the learned merges — the budget number packing/curriculum
    consume. One oracle composes the shared perplexity CTE chain
    with the unrolled WP rounds over the kept subset."""
    from eco_pulse_lakehouse_spark.plans.tokenizer import (
        flagship_tokenizer,
    )

    return flagship_tokenizer(spark, sf_dir)


@q("x4_sp_unigram_segment", _sp_sql(0))
def x4_sp_unigram_segment(spark, sf_dir):
    """X4 — SentencePiece-style UNIGRAM-LM Viterbi segmentation
    (operators/bpe.py:unigram_viterbi_segment, Kudo ACL 2018): every
    vocab word's maximum-likelihood piece split under the
    deterministic seed piece LM (frequency-weighted substring counts,
    pieces ≤ 4 chars). The DP is a row-local O(n·L) fold per word —
    corpus size only enters the one vocabulary scan; piece log-probs
    are ln→1e-6 fixed-point BIGINTs, DP scores exact integer sums,
    argmax = struct-lexicographic (score, start) max — so the full
    lattice DP, backtrace included, replays in SQL."""
    from eco_pulse_lakehouse_spark.operators.bpe import (
        unigram_viterbi_segment,
    )

    d = T(spark, sf_dir, "documents").select("text")
    return unigram_viterbi_segment(d, "text", max_piece_len=_SP_L)


@q("x4_sp_unigram_em", _sp_sql(1))
def x4_sp_unigram_em(spark, sf_dir):
    """X4 — one HARD-EM round of the SentencePiece-unigram trainer:
    recount pieces from the seed-LM Viterbi segmentations
    (frequency-weighted; characters floored at count 1 — Kudo's
    alphabet invariant), renormalize, re-segment. The Viterbi
    approximation of Kudo's EM — the M-step is a vocab-sized groupBy
    and the E-step the same row-local DP, so training cost is
    independent of corpus size after the one scan."""
    from eco_pulse_lakehouse_spark.operators.bpe import (
        unigram_viterbi_segment,
    )

    d = T(spark, sf_dir, "documents").select("text")
    return unigram_viterbi_segment(
        d, "text", max_piece_len=_SP_L, em_rounds=1
    )


@q("x4_wordpiece_merges", _wp_sql(_BPE_MERGES))
def x4_wordpiece_merges(spark, sf_dir):
    """X4 — WORDPIECE tokenizer training (operators/bpe.py:
    learn_wordpiece_merges, Schuster & Nakajima 2012 / the HF
    WordPiece trainer objective): merge the adjacent pair maximizing
    count(pair)/(count(left)·count(right)) — cohesion above chance —
    instead of BPE's raw frequency. Same 100 TB decomposition as
    x4_bpe_merges (one corpus scan → vocab-sized tables; per-round
    argmax is a 1-row collect) plus one vocab-sized symbol-count
    groupBy per round for the denominator. The score compares as the
    exact BIGINT fixed point (pair_count·10¹²) div (cl·cr) — no
    float — so the learned merge table is bit-identical cross-engine
    and the oracle replays all 6 rounds with MATERIALIZED unrolled
    CTEs."""
    from eco_pulse_lakehouse_spark.operators.bpe import (
        learn_wordpiece_merges,
    )

    d = T(spark, sf_dir, "documents").select("text")
    return learn_wordpiece_merges(d, "text", n_merges=_BPE_MERGES)


_GROUP_HASH_SQL = (
    "(CAST((group_id * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0)"
)


@q(
    "x6_group_split",
    f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                 list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
               ELSE [] END) AS s
      FROM documents
    ), prs AS MATERIALIZED (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                 AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.2
    ), edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION
      SELECT id_b AS src, id_a AS dst FROM prs
    ){_cc_label_prop_sql()},
    grouped AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(coalesce(comp, doc_id) AS BIGINT) AS group_id
      FROM documents LEFT JOIN comp ON documents.doc_id = comp.id
    )
    SELECT doc_id, group_id,
           CASE WHEN {{h}} < 0.9 THEN 'train'
                WHEN {{h}} < 0.95 THEN 'val'
                ELSE 'test' END AS split
    FROM grouped
    """.replace("{{h}}", _GROUP_HASH_SQL).replace("{h}", _GROUP_HASH_SQL),
)
def x6_group_split(spark, sf_dir):
    """X6 — group-aware (leakage-free) train/val/test split
    (operators/sampling.py:group_aware_split): near-dup clusters from
    exact 3-gram Jaccard pairs move into a split AS A UNIT (hash of
    the component id, not the doc id) — plain per-doc hash_split
    would let near-duplicates straddle train/test and inflate eval.
    Oracle composes the x2_dedup_clusters label-propagation fixpoint
    (_cc_label_prop_sql) with the x6_hash_split Knuth hash CASE —
    exact."""
    from eco_pulse_lakehouse_spark.operators.dedup import ngram_jaccard_pairs
    from eco_pulse_lakehouse_spark.operators.sampling import group_aware_split

    d = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.2)
    return group_aware_split(
        d.select(F.col("doc_id").cast("bigint")), pairs.select("id_a", "id_b")
    ).select("doc_id", "group_id", "split")


@q(
    "x2_sorted_neighborhood",
    """
    WITH ordered AS (
      SELECT doc_id, text,
             row_number() OVER (ORDER BY text, doc_id) AS rn
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                      greatest(a.doc_id, b.doc_id) AS id_b
      FROM ordered a JOIN ordered b
        ON b.rn > a.rn AND b.rn <= a.rn + 3
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                 list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
               ELSE [] END) AS s
      FROM documents
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))),
                   6) AS jaccard
      FROM cand
      JOIN sh sa ON id_a = sa.doc_id
      JOIN sh sb ON id_b = sb.doc_id
    ) WHERE jaccard >= 0.2
    """,
)
def x2_sorted_neighborhood(spark, sf_dir):
    """X2 — sorted-neighborhood blocking (operators/dedup.py:
    sorted_neighborhood_pairs, Hernández/Stolfo 1995): ONE range-
    partitioned global sort + a lead() window produces O(n·w)
    candidates, refined by exact 3-gram Jaccard — the classic
    non-hash blocking family beside minhash-LSH/simhash/edit-
    distance. Oracle replays the sort-rank join exactly (binary
    string collation matches)."""
    from eco_pulse_lakehouse_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    d = T(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        d, "doc_id", "text", window=4, jaccard_threshold=0.2
    )


@q(
    "x2_snm_multipass",
    """
    WITH fwd AS (
      SELECT doc_id, row_number() OVER (ORDER BY text, doc_id) AS rn
      FROM documents
    ),
    rev AS (
      SELECT doc_id, row_number() OVER (ORDER BY reverse(text), doc_id) AS rn
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                      greatest(a.doc_id, b.doc_id) AS id_b
      FROM fwd a JOIN fwd b ON b.rn > a.rn AND b.rn <= a.rn + 3
      UNION
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                      greatest(a.doc_id, b.doc_id) AS id_b
      FROM rev a JOIN rev b ON b.rn > a.rn AND b.rn <= a.rn + 3
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                 list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
               ELSE [] END) AS s
      FROM documents
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))),
                   6) AS jaccard
      FROM cand
      JOIN sh sa ON id_a = sa.doc_id
      JOIN sh sb ON id_b = sb.doc_id
    ) WHERE jaccard >= 0.2
    """,
)
def x2_snm_multipass(spark, sf_dir):
    """X2 — multi-pass sorted-neighborhood (the production SNM form):
    forward-text pass + reversed-text pass (suffix-similar docs sort
    adjacent), candidates unioned before ONE Jaccard refine — closes
    the single-pass prefix blind spot. Oracle replays both rank joins
    exactly."""
    from eco_pulse_lakehouse_spark.operators.dedup import (
        sorted_neighborhood_multipass,
    )

    d = T(spark, sf_dir, "documents")
    return sorted_neighborhood_multipass(
        d, "doc_id", "text", window=4, jaccard_threshold=0.2
    )


@q(
    "x3_semdedup",
    f"""
    WITH e AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
    cseeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) AS INT) - 1 AS lc,
             qv AS cent
      FROM (SELECT vec_id, qv FROM e ORDER BY vec_id ASC LIMIT 16)
    ),
    cass AS (
      SELECT vec_id, qv, lc AS cluster_id FROM (
        SELECT e.vec_id, e.qv, cs.lc,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_sum(list_transform(range(1, 65),
              i -> CAST(qv[i] - cent[i] AS BIGINT)
                   * CAST(qv[i] - cent[i] AS BIGINT)))
            ASC, cs.lc ASC) AS rn
        FROM e CROSS JOIN cseeds cs) WHERE rn = 1
    ),
    cd AS (
      SELECT vec_id, qv, cluster_id,
             CAST(list_sum(list_transform(range(1, 65),
               i -> CAST(qv[i] AS BIGINT) * cent[i])) AS BIGINT) AS cdot
      FROM cass JOIN cseeds ON cass.cluster_id = cseeds.lc
    ),
    drops AS (
      SELECT DISTINCT CASE WHEN a.cdot > b.cdot THEN a.vec_id
                           WHEN b.cdot > a.cdot THEN b.vec_id
                           ELSE GREATEST(a.vec_id, b.vec_id) END AS vec_id
      FROM cd a JOIN cd b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE CAST(list_sum(list_transform(range(1, 65),
              i -> CAST(a.qv[i] AS BIGINT) * CAST(b.qv[i] AS BIGINT)))
            AS BIGINT) >= 6400
    )
    SELECT vec_id, cluster_id FROM cass
    WHERE vec_id NOT IN (SELECT vec_id FROM drops)
    """,
)
def x3_semdedup(spark, sf_dir):
    """X3 — SemDeDup semantic near-dup pruning
    (operators/similarity.py:semantic_dedup; Abbas et al. 2023):
    integer k-means clusters the int8-quantized embeddings into 16
    lists, pairwise BIGINT dot products run ONLY within a cluster
    (equi-join on cluster_id — Σ|cluster|², never n²), and of each
    pair above the threshold the member closest to its centroid is
    dropped (the paper's keep-the-outlier rule; ties to the larger
    id). min_dot=6400 ≈ cosine 0.40 on the 127-scale — the synthetic
    embeddings are near-orthogonal (max pairwise ≈ 0.51), so this is
    the same regime as x3_cosine_neardup's 0.3. Every stage is exact
    integer math over seed centroids, so the WHOLE pipeline —
    quantize, cluster, assign, score, drop — replays in ANSI SQL;
    trained-centroid clustering is recall-pinned in pytest."""
    e = T(spark, sf_dir, "embeddings")
    qz = xs.quantize_embeddings(e, "embedding", "q_vec", n_levels=127)
    return xs.semantic_dedup(
        qz, "vec_id", "q_vec", n_clusters=16, dim=64, min_dot=6400
    )


@q(
    "x2_dup_ngram_frac",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id, array_to_string(w[i:i+3], ' ') AS s
      FROM t, unnest(range(1, len(w) - 2)) AS u(i)
      WHERE len(w) >= 4
    ),
    dp AS (
      SELECT s, count(*) AS nd
      FROM (SELECT DISTINCT doc_id, s FROM sh) GROUP BY s
    ),
    prof AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
             CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS dup_frac
      FROM sh JOIN dp USING (s)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup,
           dup_frac
    FROM documents d LEFT JOIN prof USING (doc_id)
    """,
)
def x2_dup_ngram_frac(spark, sf_dir):
    """X2 — cross-document duplicate 4-gram fraction
    (operators/dedup.py:dup_shingle_fraction; Lee et al. 2021 /
    RefinedWeb duplicated-span signal): per doc, the share of
    shingle positions whose 4-gram exists in >= 2 distinct
    documents. Distinct-doc counts come from distinct (doc, shingle)
    pairs + count (no count-distinct expand) joined back onto the
    position stream — inverted-index cost. The final fraction is ONE
    double division of exact BIGINTs, identical IEEE result in both
    engines."""
    from eco_pulse_lakehouse_spark.operators.dedup import (
        dup_shingle_fraction,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return dup_shingle_fraction(d, "doc_id", "text", n=4)


@q(
    "x2_dup_span_removal",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
      SELECT doc_id, i - 1 AS tp, w[i] AS tok
      FROM t, unnest(range(1, len(w) + 1)) AS u(i)
    ),
    sh AS (
      SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+3], ' ') AS s
      FROM t, unnest(range(1, len(w) - 2)) AS u(i)
      WHERE len(w) >= 4
    ),
    dp AS (
      SELECT s FROM (SELECT DISTINCT doc_id, s FROM sh)
      GROUP BY s HAVING count(*) >= 2
    ),
    r1 AS (
      SELECT doc_id, p,
             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
      FROM sh JOIN dp USING (s)
    ),
    runs AS (
      SELECT doc_id, min(p) AS a, max(p) AS b
      FROM r1 GROUP BY doc_id, g
      HAVING max(p) - min(p) + 4 >= 15
    ),
    removed AS (
      SELECT DISTINCT doc_id, u.tp AS tp
      FROM runs, unnest(range(a, b + 4)) AS u(tp)
    ),
    surv AS (
      SELECT tok.doc_id, tok.tp, tok.tok
      FROM tok LEFT JOIN removed
        ON tok.doc_id = removed.doc_id AND tok.tp = removed.tp
      WHERE removed.tp IS NULL
    ),
    reb AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY tp) AS clean
      FROM surv GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(w) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(clean, '') AS text_clean
    FROM t LEFT JOIN reb USING (doc_id)
    """,
)
def x2_dup_span_removal(spark, sf_dir):
    """X2 — exact substring-level dedup
    (operators/dedup.py:dup_span_removal; Lee et al. 2021
    "ExactSubstr" at word-4-gram granularity): per document, REMOVE
    every maximal run of tokens covered by 4-grams that occur in
    >= 2 distinct documents, when the run spans >= 15 tokens, and
    return the surviving text. Gaps-and-islands (pos − row_number)
    finds maximal runs relationally; covered intervals [a, b+3]
    explode to token positions whose union (distinct) handles
    overlapping covers; a LEFT ANTI join keeps surviving tokens and
    an ordered rebuild re-joins them. All positions are integers —
    the oracle replays every stage verbatim. At sf0.01: 45/500 docs
    lose ~2.4k of 27k tokens; min_span=15 excludes 2 docs that the
    8-token threshold would touch (both branches exercised)."""
    from eco_pulse_lakehouse_spark.operators.dedup import (
        dup_span_removal,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return dup_span_removal(
        d, "doc_id", "text", n=4, min_span_tokens=15
    )


def _phonetic_code_sql(name: str) -> str:
    """DuckDB twin of operators/dedup.py:phonetic_code — the same
    RE2-safe replace chain (DuckDB regexp_replace needs the 'g'
    flag; Spark's is always-global)."""
    expr = f"substring(lower(string_split({name}, ' ')[1]), 2)"
    for pat, rep in (
        ("[bfpv]", "1"), ("[cgjkqsxz]", "2"), ("[dt]", "3"),
        ("l", "4"), ("[mn]", "5"), ("r", "6"), ("[aeiouhwy]", "0"),
    ):
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    for d in "123456":
        expr = f"regexp_replace({expr}, '{d}{{2,}}', '{d}', 'g')"
    expr = f"regexp_replace({expr}, '0', '', 'g')"
    return (
        f"upper(substring(lower(string_split({name}, ' ')[1]), 1, 1))"
        f" || substring({expr} || '000', 1, 3)"
    )


@q(
    "x2_phonetic_blocking",
    f"""
    WITH k AS (
      SELECT p_partkey AS id, p_name AS nm,
             {_phonetic_code_sql('p_name')} AS pc
      FROM part
    )
    SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
           CAST(levenshtein(a.nm, b.nm) AS INT) AS lev
    FROM k a JOIN k b ON a.pc = b.pc AND a.id < b.id
    WHERE levenshtein(a.nm, b.nm) <= 3
    """,
)
def x2_phonetic_blocking(spark, sf_dir):
    """X2 — fuzzy-match candidates via PHONETIC BLOCKING + exact
    edit-distance refine (operators/dedup.py:phonetic_blocking_pairs)
    over part names: a simplified Soundex-style code of the first
    token (initial + 3 consonant-class digits, RE2-safe — per-digit
    run collapses, no backreferences) forms the blocking equi-join,
    then built-in levenshtein <= 3 keeps exact dup pairs (lev 0 —
    the catalog has heavy name reuse) AND real variants
    ('hot ring' ~ 'hot rod', lev 3; the corpus has no lev-1/2
    neighbors). Both stages are built-ins in BOTH engines with
    identical integer distances — fully oracle-exact. The classic
    entity-resolution blocking shape, complementing SNM (sort-based)
    and LSH (signature-based) blocking."""
    from eco_pulse_lakehouse_spark.operators.dedup import (
        phonetic_blocking_pairs,
    )

    p = T(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("bigint").alias("p_partkey"), "p_name"
    )
    return phonetic_blocking_pairs(p, "p_partkey", "p_name", max_edit=3)


@q(
    "x2_phonetic_bounded",
    f"""
    WITH k AS (
      SELECT p_partkey AS id, p_name AS nm,
             {_phonetic_code_sql('p_name')}
               || ':' || upper(substring(
                    coalesce(string_split(p_name, ' ')[2], '') || ' ', 1, 1))
               || ':' || CAST(len(p_name) // 4 AS VARCHAR) AS bk
      FROM part
    ), c AS (
      SELECT id, nm, bk FROM (
        SELECT id, nm, bk,
               row_number() OVER (PARTITION BY bk ORDER BY nm, id) AS rk
        FROM k
      ) WHERE rk <= 50
    )
    SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
           CAST(levenshtein(a.nm, b.nm) AS INT) AS lev
    FROM c a JOIN c b ON a.bk = b.bk AND a.id < b.id
    WHERE levenshtein(a.nm, b.nm) <= 3
    """,
)
def x2_phonetic_bounded(spark, sf_dir):
    """X2 — BOUNDED phonetic blocking (VERDICT r06 item 2, the one
    remaining scale-killer: x2_phonetic_blocking's bare 4-char code
    draws from an 8-letter alphabet, so blocks grow linearly with
    data and candidate pairs quadratically — 25M pairs / 27 s at
    sf0.1). This entry is the 100 TB-sanctioned form
    (operators/dedup.py:bounded_phonetic_pairs): (a) the COMPOSED
    blocking key — phonetic code + second-token initial + length
    band (phonetic_block_key) — multiplies the effective alphabet
    (8 → 52 blocks, 5.8× fewer pairs, measured 83.5%/75.1% recall of
    the bare-code lev<=3 survivors at sf0.1); (b) each block capped
    at its first 50 rows under the deterministic (block, name, id)
    order via the distributed global rank (operators/rank.py — no
    single-task-per-block sort), bounding any block at 50·49/2 pairs
    no matter how the data grows. The cap is deterministic and the
    oracle replays it with a SQL row_number, so the capped result is
    itself oracle-EXACT (the w19_sax_motif_capped precedent);
    companion phonetic_block_overflow surfaces exactly what the cap
    dropped (no silent caps — pytest-pinned)."""
    from eco_pulse_lakehouse_spark.operators.dedup import (
        bounded_phonetic_pairs,
    )

    p = T(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("bigint").alias("p_partkey"), "p_name"
    )
    return bounded_phonetic_pairs(
        p, "p_partkey", "p_name", max_edit=3, max_block=50
    )


@q(
    "x6_temperature_mixture",
    f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    s AS (
      SELECT lang, n,
             CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS sc
      FROM c
    ),
    tot AS (SELECT CAST(sum(sc) AS BIGINT) AS S FROM s)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN s USING (lang) CROSS JOIN tot
    WHERE {_UNIT_HASH_SQL}
          < LEAST(1.0, CAST(250 * sc AS DOUBLE)
                       / (CAST(S AS DOUBLE) * CAST(n AS DOUBLE)))
    """,
)
def x6_temperature_mixture(spark, sf_dir):
    """X6 — temperature-weighted language rebalancing
    (operators/sampling.py:temperature_mixture_sample): keep-fraction
    per language ∝ n^0.5 / n, the alpha=0.5 sampling recipe mBERT /
    XLM-R / T5 use so high-resource languages stop drowning the tail
    (en is 44% of this corpus; after sampling its share drops toward
    the flattened target while fr/de/es/zh keep most rows). sqrt is
    correctly-rounded IEEE and the scores are 1e-6 fixed-point
    BIGINTs, so the whole selection — including the final double
    division — replays bit-for-bit in the oracle."""
    from eco_pulse_lakehouse_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "lang"
    )
    return temperature_mixture_sample(d, "doc_id", "lang", k=250, alpha=0.5)


# Named so the t46 streaming quota-maintenance twin carries it
# verbatim. B = (3·Σn) div 2 tokens, E = 2 epochs: on this corpus
# the smallest languages cap at 2·n (repetition headroom) while the
# largest split the remaining budget equally — both UniMax branches
# fire at every scale factor, and at sf0.001 the capped→uncapped
# transition lands mid-ladder (es/fr/en share, de/zh cap).
_UNIMAX_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
             {_UNIT_HASH_SQL} AS u
      FROM documents
    ), lt AS (
      SELECT lang, CAST(SUM(nt) AS BIGINT) AS n FROM toks GROUP BY lang
    ), bud AS (SELECT CAST((3 * SUM(n)) // 2 AS BIGINT) AS b FROM lt),
    ord AS (
      SELECT lang, n, 2 * n AS cap,
             CAST(row_number() OVER (ORDER BY n ASC, lang ASC)
                  AS BIGINT) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS L,
             CAST(COALESCE(SUM(2 * n) OVER (ORDER BY n ASC, lang ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumprev
      FROM lt
    ), flags AS (
      SELECT lang, cap, b, i, L,
             (cap * (L - i + 1) <= b - cumprev) AS capped
      FROM ord CROSS JOIN bud
    ), pool AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN capped THEN cap END), 0)
               AS BIGINT) AS capsum,
             CAST(SUM(CASE WHEN capped THEN 0 ELSE 1 END)
               AS BIGINT) AS nunc
      FROM flags
    ), quota AS (
      SELECT lang,
             CAST(CASE WHEN capped THEN cap
                  ELSE (b - capsum) // nunc
                       + CASE WHEN i > L - (b - capsum) % nunc
                              THEN 1 ELSE 0 END
                  END AS BIGINT) AS lang_quota
      FROM flags CROSS JOIN pool
    ), run AS (
      SELECT doc_id, lang, nt,
             CAST(SUM(nt) OVER (PARTITION BY lang
               ORDER BY u ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS rt
      FROM toks
    )
    SELECT CAST(r.doc_id AS BIGINT) AS doc_id, r.lang,
           r.nt AS n_tokens, r.rt AS lang_run_tokens, q.lang_quota
    FROM run r JOIN quota q USING (lang)
    WHERE r.rt <= q.lang_quota
    """


@q("x6_unimax_mixture", _UNIMAX_SQL)
def x6_unimax_mixture(spark, sf_dir):
    """X6 — UniMax language-balanced selection
    (operators/sampling.py:unimax_select; Chung et al. 2023): spread
    a 1.5-corpus-worth token budget (the exact rational (3·Σn) div 2)
    uniformly across languages with a 2-epoch per-language cap, then
    keep each language's documents in deterministic Knuth-hash order
    until its quota is hit — small languages cap at 2 epochs
    (repetition headroom), large ones truncate at the shared fair
    share. UniMax's
    smallest-first greedy is replayed through its closed form (caps
    ascend with language size, so capped-ness is a single
    cross-multiplied BIGINT predicate and the uncapped fair share is
    one integer div) — every comparison and the budget prefix are
    exact integer arithmetic, so the oracle matches bit-for-bit. The
    per-language running total runs through the distributed
    global_running_sum (no single-task-per-language window); the
    oracle's plain window is the single-node replay."""
    from eco_pulse_lakehouse_spark.operators.sampling import unimax_select

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "lang", "text"
    )
    return unimax_select(
        d, "doc_id", "lang", "text", token_budget=None, max_epochs=2,
        budget_num=3, budget_den=2,
    )


@q(
    "x6_semantic_decontaminate",
    f"""
    WITH e AS (
      SELECT vec_id, {_QVEC} AS qv,
             (CAST((vec_id * 2654435761) % 4294967296 AS DOUBLE)
              / 4294967296.0) AS u
      FROM embeddings
    ),
    tr AS (SELECT vec_id, qv FROM e WHERE u < 0.9),
    ev AS (SELECT vec_id AS e_id, qv AS eqv FROM e WHERE u >= 0.9),
    hits AS (
      SELECT tr.vec_id,
             CAST(list_sum(list_transform(range(1, 65),
               i -> CAST(tr.qv[i] AS BIGINT) * CAST(eqv[i] AS BIGINT)))
               AS BIGINT) AS d
      FROM tr CROSS JOIN ev
    )
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
           CAST(max(d) AS BIGINT) AS max_dot
    FROM hits WHERE d >= 4800 GROUP BY vec_id
    """,
)
def x6_semantic_decontaminate(spark, sf_dir):
    """X6 — embedding-space decontamination
    (operators/decontaminate.py:semantic_decontaminate): the
    semantic twin of x6_decontaminate's 4-gram pass — train split
    (Knuth unit hash < 0.9 on vec_id) scanned against the BROADCAST
    eval split, exact BIGINT int8 dot scoring, flag at dot >= 4800
    (cos ≈ 0.30, the x3_cosine_neardup regime for these
    near-orthogonal synthetic embeddings). Map-only over the train
    side; the oracle replays quantization, split, and scoring
    bit-for-bit."""
    from eco_pulse_lakehouse_spark.operators.decontaminate import (
        semantic_decontaminate,
    )
    from eco_pulse_lakehouse_spark.operators.sampling import unit_hash

    e = T(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("bigint"), "embedding"
    )
    qz = xs.quantize_embeddings(e, "embedding", "q_vec", n_levels=127)
    u = unit_hash(F.col("vec_id"))
    return semantic_decontaminate(
        qz.filter(u < 0.9), qz.filter(u >= 0.9),
        "vec_id", "q_vec", min_dot=4800,
    )


@q(
    "x5_audio_segments",
    """
    WITH m AS (
      SELECT doc_id, octet_length(encode(text)) // 2 AS n FROM documents
    ),
    s AS (
      SELECT doc_id, n,
             CASE WHEN n <= 0 THEN 0
                  WHEN n > 64 THEN CAST(floor((n - 64 + 31) / 32.0) AS INT) + 1
                  ELSE 1 END AS n_seg
      FROM m
    )
    SELECT doc_id, CAST(i AS INT) AS seg_idx,
           CAST(i * 32 AS BIGINT) AS start_sample,
           CAST(LEAST(i * 32 + 64, n) AS BIGINT) AS end_sample,
           CAST(LEAST(i * 32 + 64, n) - i * 32 AS BIGINT) AS n_samples,
           CAST(LEAST(i * 32 + 64, n) - i * 32 AS DOUBLE) / 16000.0
             AS duration_s
    FROM s, unnest(range(0, n_seg)) AS u(i)
    """,
)
def x5_audio_segments(spark, sf_dir):
    """X5 — fixed-window audio segmentation plan
    (operators/multimodal.py:segment_payload_windows): payload bytes
    as 16-bit PCM samples, 64-sample windows at 32-sample hop with a
    ragged clipped tail — the pre-transcription windowing pass,
    derived ENTIRELY from the meta struct (no payload bytes read;
    column pruning keeps the binary column on disk). Integer
    arithmetic + one double division, replayed exactly in SQL."""
    d = T(spark, sf_dir, "documents")
    return xm.segment_payload_windows(
        xm.to_multimodal(d), bytes_per_sample=2, win=64, hop=32,
        sample_rate=16000,
    )


@q(
    "x2_containment",
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                 list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
               ELSE [] END) AS s
      FROM documents
    )
    SELECT id_a, id_b, containment FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / LEAST(len(a.s), len(b.s)) AS containment
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(a.s) > 0 AND len(b.s) > 0
    ) WHERE containment >= 0.5
    """,
)
def x2_containment(spark, sf_dir):
    """X2 — exact 3-gram containment pairs ≥ 0.5
    (operators/dedup.py:ngram_containment_pairs): |∩|/min(|A|,|B|),
    the asymmetric measure that catches doc-in-doc duplication
    (quotes, excerpts, aggregation pages) Jaccard's |∩|/|∪| dilutes
    away. Same inverted-index join as x2_ngram_jaccard; the oracle
    is the naive all-pairs form."""
    d = T(spark, sf_dir, "documents")
    return xd.ngram_containment_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.5
    )


# Named so the t43 streaming serve twin carries it verbatim.
_RAG_MMR_SQL = f"""
    WITH e AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
    en AS (
      SELECT vec_id, qv,
             sqrt(CAST(list_sum(list_transform(qv,
               x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) AS n8
      FROM e
    ),
    rq AS (SELECT vec_id AS q_id, qv AS qa, n8 AS na
           FROM en WHERE vec_id < 5),
    rc AS (SELECT vec_id AS c_id, qv AS qb, n8 AS nb FROM en),
    rscored AS (
      SELECT q_id, c_id, na, nb,
             CAST(list_sum(list_transform(range(1, len(qa) + 1),
               i -> CAST(qa[i] AS BIGINT) * qb[i])) AS BIGINT) AS qdot
      FROM rq CROSS JOIN rc WHERE q_id != c_id
    ),
    mpool AS MATERIALIZED (
      SELECT q_id, c_id,
             CAST(round(round(CAST(qdot AS DOUBLE) / (na * nb), 6)
                  * 1000000, 0) AS BIGINT) AS rel_fp
      FROM (SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY qdot DESC, c_id ASC) AS rk
            FROM rscored)
      WHERE rk <= 10
    ),
    mpv AS (SELECT p.q_id, p.c_id, c.qb, c.nb
            FROM mpool p JOIN rc c USING (c_id)),
    mpairs AS MATERIALIZED (
      SELECT a.q_id, a.c_id AS id_a, b.c_id AS id_b,
             CAST(round(round(
               CAST(list_sum(list_transform(range(1, len(a.qb) + 1),
                 i -> CAST(a.qb[i] AS BIGINT) * b.qb[i])) AS DOUBLE)
               / (a.nb * b.nb), 6) * 1000000, 0) AS BIGINT) AS sim_fp
      FROM mpv a JOIN mpv b ON a.q_id = b.q_id AND a.c_id != b.c_id
    ){_mmr_rounds_sql(5, 7, 3)},
    mmrsel AS (
      SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
      UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
      UNION ALL SELECT * FROM sel5
    ),
    sh AS (
      SELECT t.q_id, t.c_id, t.mmr_rank, t.rel_fp,
             list_distinct(CASE
               WHEN len(string_split(d.text, ' ')) >= 2 THEN
                 list_transform(range(1, len(string_split(d.text, ' '))),
                   i -> array_to_string(
                     (string_split(d.text, ' '))[i:i+1], ' '))
               ELSE [] END) AS s,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM mmrsel t JOIN documents d ON t.c_id = d.doc_id
    ),
    dups AS (
      SELECT DISTINCT b.q_id, b.c_id
      FROM sh a JOIN sh b
        ON a.q_id = b.q_id AND a.mmr_rank < b.mmr_rank
      WHERE least(len(a.s), len(b.s)) > 0
        AND 20 * len(list_intersect(a.s, b.s))
            >= 3 * least(len(a.s), len(b.s))
    ),
    kept AS (
      SELECT sh.q_id, sh.c_id, sh.mmr_rank, sh.rel_fp, sh.n_tokens
      FROM sh LEFT JOIN dups
        ON sh.q_id = dups.q_id AND sh.c_id = dups.c_id
      WHERE dups.c_id IS NULL
    ),
    budgeted AS (
      SELECT q_id, mmr_rank, c_id AS doc_id, rel_fp, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY q_id
               ORDER BY mmr_rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
      FROM kept
    )
    SELECT q_id, CAST(mmr_rank AS INT) AS mmr_rank, doc_id, rel_fp,
           n_tokens, cum_tokens
    FROM budgeted WHERE cum_tokens <= 250
    """


@q("flagship_rag_context", _RAG_MMR_SQL)
def flagship_rag_context(spark, sf_dir):
    """Flagship #4 — the COMPOSED RAG context-builder, now with the
    MMR diversification stage the r09 round certified standalone
    (plans/rag_context.py:rag_context_mmr): int8-exact top-10
    retrieval pool per query (relevance = int8 cosine at a 1e-6
    fixed point — the BIGINT dot divided by the norm product, one
    correctly-rounded IEEE op) → MMR greedy diversify to 5 picks
    per query (λ = 7/10 as exact integers; candidate-candidate
    metric = the SAME int8 cosine via mmr_rerank's pair_sim hook, so
    the whole stage stays on the quantized store) → 2-gram
    containment dedup vs any higher-MMR-ranked doc (the integer
    comparison 20·|∩| ≥ 3·min, never a float boundary) →
    whitespace-token running budget (≤250, trims at every test sf) over MMR rank order. The
    serving-side counterpart of flagship #8's curation factory,
    end-to-end oracle-checked; per-query cost after candidate-
    bounded retrieval is pool² pair sims + k² containment pairs —
    nothing corpus-quadratic, and the greedy loop is 5 driver-side
    plan compositions with no collects."""
    from eco_pulse_lakehouse_spark.plans.rag_context import (
        rag_context_mmr,
    )

    e = T(spark, sf_dir, "embeddings")
    d = T(spark, sf_dir, "documents")
    return rag_context_mmr(
        e, d, n_queries=5, k_pool=10, k_select=5, lam_num=7,
        lam_den=10, shingle_n=2, containment_num=3,
        containment_den=20, token_budget=250,
    )


@q(
    "x7_dataset_card",
    """
    WITH tc AS (
      SELECT text, COUNT(*) AS n FROM documents GROUP BY text
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN tc.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT)
             AS total_ws_tokens,
           CAST(SUM(length(d.text)) AS BIGINT) AS total_chars,
           CAST(SUM(length(d.text)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_doc_chars
    FROM documents d JOIN tc USING (text)
    GROUP BY lang
    """,
)
def x7_dataset_card(spark, sf_dir):
    """X7 — per-domain DATASET CARD
    (operators/quality.py:dataset_card): the stats manifest a
    curation run publishes beside its export — doc counts, exact
    corpus-wide duplicate counts, whitespace-token / char totals,
    exact mean length. One inverted count on the text key + one
    domain aggregation, all-BIGINT with one double division —
    oracle-exact. Completes the x6/x7 composition family: recipe
    (flagship_training_export) → packing (x7_pack_documents) →
    curriculum (x7_curriculum) → card (here)."""
    from eco_pulse_lakehouse_spark.operators.quality import dataset_card

    return dataset_card(T(spark, sf_dir, "documents"), "lang", "text")


@q(
    "flagship_training_export",
    f"""
    WITH dd AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
    ),
    u AS (SELECT *, {_UNIT_HASH_SQL} AS uh FROM dd),
    ev AS (SELECT * FROM u WHERE uh >= 0.9),
    tr AS (SELECT * FROM u WHERE uh < 0.9),
    evsh AS (
      SELECT DISTINCT shingle FROM (
        SELECT unnest(list_distinct(
          CASE WHEN len(string_split(text, ' ')) >= 4 THEN
            list_transform(range(1, len(string_split(text, ' ')) - 2),
              i -> array_to_string((string_split(text, ' '))[i:i+3], ' '))
          ELSE [] END)) AS shingle
        FROM ev)
    ),
    flagged AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(string_split(text, ' ')) >= 4 THEN
            list_transform(range(1, len(string_split(text, ' ')) - 2),
              i -> array_to_string((string_split(text, ' '))[i:i+3], ' '))
          ELSE [] END)) AS shingle
        FROM tr) ts JOIN evsh USING (shingle)
    ),
    clean AS (
      SELECT * FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
    ),
    c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM clean GROUP BY lang),
    s AS (SELECT lang, n,
                 CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
                   AS sc
          FROM c),
    tot AS (SELECT CAST(sum(sc) AS BIGINT) AS S FROM s),
    mixed AS (
      SELECT clean.doc_id, clean.lang, clean.text
      FROM clean JOIN s USING (lang) CROSS JOIN tot
      WHERE (CAST((doc_id * 2246822519) % 4294967296 AS DOUBLE)
             / 4294967296.0)
            < LEAST(1.0, CAST(150 * sc AS DOUBLE)
                         / (CAST(S AS DOUBLE) * CAST(n AS DOUBLE)))
    )
    SELECT doc_id, lang,
           CASE WHEN (CAST((doc_id * 3266489917) % 4294967296
                           AS DOUBLE) / 4294967296.0) < 0.05
                THEN 'val' ELSE 'train' END AS split,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
           {_BPE_SQL} AS n_tokens_bpe
    FROM mixed
    """,
)
def flagship_training_export(spark, sf_dir):
    """Flagship #3 — the COMPOSED training-data EXPORT recipe
    (plans/training_export.py:export_manifest): exact dedup →
    hold-out split → 4-gram decontamination → n^0.5 temperature
    language rebalance → train/val hash split → whitespace + BPE-ish
    token budgets, end-to-end in one call and end-to-end
    oracle-checked. Each stage hashes with a DIFFERENT odd
    multiplier (xxhash32 primes) so the chained selections stay
    independent — additive salting of one multiplicative hash is a
    pure rotation of the same draw and would correlate the stages
    (round-3 advisor finding; see plans/training_export.py for the
    derivation). The manifest is the artifact a tokenizer /
    packer consumes (x7_pack_documents picks up from here)."""
    from eco_pulse_lakehouse_spark.plans.training_export import (
        export_manifest,
    )

    d = T(spark, sf_dir, "documents")
    return export_manifest(
        d, "doc_id", "text", "lang",
        k_budget=150, alpha=0.5, shingle_n=4,
        eval_frac=0.1, val_frac=0.05,
    )


# =====================================================================
# X6 — DSIR importance selection (operators/selection.py)
# =====================================================================

# Shared feature-stream CTEs: unigrams + word bigrams per doc, each
# hashed into 128 buckets by the SQL-replayable char fold.
# Parameterized on the source relation so composed pipelines
# (flagship_curation_select) can run the identical LM over a
# CLEANED document set.
def _dsir_fb(src: str = "documents") -> str:
    return f"""
    tw AS (SELECT doc_id, lang, string_split(text, ' ') AS w
           FROM {src}),
    feats AS (
      SELECT doc_id, lang, u.f
      FROM tw, unnest(list_concat(w,
        list_transform(range(1, len(w)),
                       i -> array_to_string(w[i:i+1], ' ')))) AS u(f)
    ),
    fb AS (SELECT doc_id, lang,
                  {_poly_th_sql('f')} % 128 AS bucket
           FROM feats),
    counts AS (
      SELECT bucket,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_target,
             COUNT(*) AS c_raw
      FROM fb GROUP BY bucket
    ),
    tot AS (SELECT SUM(c_target) AS nt, SUM(c_raw) AS nr FROM counts),
    ratios AS (
      SELECT bucket,
             CAST(round(ln(
               (CAST(2 * c_target + 1 AS DOUBLE)
                  / CAST(2 * nt + 128 AS DOUBLE))
               / (CAST(2 * c_raw + 1 AS DOUBLE)
                  / CAST(2 * nr + 128 AS DOUBLE))
             ) * 1000000, 0) AS BIGINT) AS w_fp
      FROM counts, tot
    ),
    weights AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_feats,
             CAST(SUM(w_fp) AS BIGINT) AS weight_fp
      FROM fb JOIN ratios USING (bucket)
      GROUP BY doc_id
    )
"""


_DSIR_FB = _dsir_fb("documents")


def _dsir_fb_flagged(src: str) -> str:
    """:func:`_dsir_fb` with a LEARNED target: ``src`` must provide
    (doc_id, text, is_t); counts come from the whole source with the
    flag as the target split, weights score only flagged docs. Same
    feature stream, hash, smoothing and fixed-point as _dsir_fb —
    only the target predicate and the scoring restriction differ."""
    return f"""
    tw AS (SELECT doc_id, is_t, string_split(text, ' ') AS w
           FROM {src}),
    feats AS (
      SELECT doc_id, is_t, u.f
      FROM tw, unnest(list_concat(w,
        list_transform(range(1, len(w)),
                       i -> array_to_string(w[i:i+1], ' ')))) AS u(f)
    ),
    fb AS (SELECT doc_id, is_t,
                  {_poly_th_sql('f')} % 128 AS bucket
           FROM feats),
    counts AS (
      SELECT bucket,
             SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_target,
             COUNT(*) AS c_raw
      FROM fb GROUP BY bucket
    ),
    tot AS (SELECT SUM(c_target) AS nt, SUM(c_raw) AS nr FROM counts),
    ratios AS (
      SELECT bucket,
             CAST(round(ln(
               (CAST(2 * c_target + 1 AS DOUBLE)
                  / CAST(2 * nt + 128 AS DOUBLE))
               / (CAST(2 * c_raw + 1 AS DOUBLE)
                  / CAST(2 * nr + 128 AS DOUBLE))
             ) * 1000000, 0) AS BIGINT) AS w_fp
      FROM counts, tot
    ),
    weights AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_feats,
             CAST(SUM(w_fp) AS BIGINT) AS weight_fp
      FROM fb JOIN ratios USING (bucket)
      WHERE is_t
      GROUP BY doc_id
    )
"""


@q(
    "x6_dsir_weights",
    f"""
    WITH {_DSIR_FB}
    SELECT doc_id, n_feats, weight_fp FROM weights
    """,
)
def x6_dsir_weights(spark, sf_dir):
    """X6 — DSIR hashed-n-gram log importance weights (Xie et al.
    NeurIPS'23; operators/selection.py:dsir_weights): target =
    lang='en', raw = the whole pool, 128 hashed unigram+bigram
    buckets, add-half smoothing. One corpus scan builds both bucket
    LMs (conditional count in the same vocab-sized groupBy); the
    128-row fixed-point log-ratio table broadcasts onto the feature
    stream; per-doc weights are exact BIGINT sums — oracle-exact
    under the corpus ln-to-1e-6-fixed-point rule."""
    from eco_pulse_lakehouse_spark.operators import selection as xsel

    d = T(spark, sf_dir, "documents")
    return xsel.dsir_weights(d, F.col("lang") == "en")


@q(
    "x6_dsir_select",
    f"""
    WITH {_DSIR_FB}
    SELECT doc_id, weight_fp FROM weights
    ORDER BY weight_fp DESC, doc_id ASC LIMIT 50
    """,
)
def x6_dsir_select(spark, sf_dir):
    """X6 — DSIR top-k selection (deterministic rank-by-weight form
    of the paper's importance resampling; doc_id tiebreak makes the
    selected SET unique). TakeOrderedAndProject — per-partition
    top-k then a k-row driver merge, never a global sort."""
    from eco_pulse_lakehouse_spark.operators import selection as xsel

    d = T(spark, sf_dir, "documents")
    return xsel.dsir_select(d, F.col("lang") == "en", k=50).select(
        "doc_id", "weight_fp"
    )


# =====================================================================
# X2 — CCNet line-level dedup (operators/dedup.py:line_dedup_keep_first)
# =====================================================================


@q(
    "x2_line_dedup",
    """
    WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents),
    ch AS (
      SELECT doc_id, i AS cid,
             array_to_string(w[3*i+1 : 3*i+3], ' ') AS chunk
      FROM tw, unnest(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT)))
             AS u(i)
    ),
    ranked AS (
      SELECT doc_id, cid, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, cid) AS rn
      FROM ch
    ),
    kept AS (SELECT doc_id, cid, chunk FROM ranked WHERE rn = 1),
    rebuilt AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY cid) AS clean
      FROM kept GROUP BY doc_id
    ),
    base AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_chunks AS BIGINT) AS n_chunks,
           CAST(b.n_chunks - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.clean, '') AS text_clean
    FROM base b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
    """,
)
def x2_line_dedup(spark, sf_dir):
    """X2 — CCNet-style keep-first line dedup (Wenzek et al. 2020;
    operators/dedup.py:line_dedup_keep_first): every duplicated
    3-token chunk keeps only its globally-first (doc, position)
    occurrence. The keep-one-copy tier dup_span_removal defers —
    ranking is per-line-group argmin (one map-side-combinable
    groupBy), never a global sort."""
    d = T(spark, sf_dir, "documents")
    return xd.line_dedup_keep_first(d, "doc_id", "text", chunk_tokens=3)


@q(
    "x6_dsir_resample",
    f"""
    WITH {_DSIR_FB}
    SELECT doc_id, weight_fp, key_fp FROM (
      SELECT doc_id, weight_fp,
             weight_fp + CAST(round(-ln(-ln(
               (CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) + 0.5)
               / 4294967296.0
             )) * 1000000, 0) AS BIGINT) AS key_fp
      FROM weights
    )
    ORDER BY key_fp DESC, doc_id ASC LIMIT 50
    """,
)
def x6_dsir_resample(spark, sf_dir):
    """X6 — the DSIR paper's actual Gumbel-top-k importance
    RESAMPLING (operators/selection.py:dsir_gumbel_resample):
    sample 50 docs ∝ exp(weight) with hash-seeded, reproducible
    Gumbel noise — u from the Knuth unit hash shifted by ½ step,
    g = −ln(−ln u) through the fixed-point rule, key = exact BIGINT
    weight_fp + g_fp. Row-local noise: same TakeOrderedAndProject
    shape as the deterministic top-k."""
    from eco_pulse_lakehouse_spark.operators import selection as xsel

    d = T(spark, sf_dir, "documents")
    return xsel.dsir_gumbel_resample(d, F.col("lang") == "en", k=50)


# =====================================================================
# X4 — learned NB quality classifier (operators/selection.py:
# nb_log_odds / nb_classify) — VERDICT r08 item 2
# =====================================================================

# Weak label: the "curated sources" split (DCLM / FineWeb-Edu shape —
# positives come from trusted provenance, the classifier generalizes
# the provenance signal onto content so it can score unlabeled text).
_NB_POS_SQL = "source IN ('src0','src1','src2','src3','src4')"


def _nb_pos_pred():
    return F.col("source").isin("src0", "src1", "src2", "src3", "src4")


# Shared NB CTE chain, parameterized on the source relation (which
# must carry doc_id, source, text) so composed pipelines
# (flagship_curation_select) replay the identical training pass over
# a CLEANED document set. Same feature stream as _dsir_fb
# (unigrams + word bigrams, poly-hash → 128 buckets); n-prefixed CTE
# names so both chains compose in one oracle.
def _nb_cte(src: str = "documents") -> str:
    return f"""
    ntw AS (SELECT doc_id, {_NB_POS_SQL} AS is_p,
                   string_split(text, ' ') AS w
            FROM {src}),
    nfeats AS (
      SELECT doc_id, is_p, u.f
      FROM ntw, unnest(list_concat(w,
        list_transform(range(1, len(w)),
                       i -> array_to_string(w[i:i+1], ' ')))) AS u(f)
    ),
    nfb AS (SELECT doc_id, is_p,
                   {_poly_th_sql('f')} % 128 AS bucket
            FROM nfeats),
    ncounts0 AS (
      SELECT bucket,
             SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS c_pos,
             SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS c_neg
      FROM nfb GROUP BY bucket
    ),
    -- densified to the full bucket range (zero counts smooth to the
    -- unseen-bucket log-odds), mirroring nb_log_odds' dense grid
    ncounts AS (
      SELECT g.bucket,
             CAST(COALESCE(c.c_pos, 0) AS BIGINT) AS c_pos,
             CAST(COALESCE(c.c_neg, 0) AS BIGINT) AS c_neg
      FROM (SELECT CAST(range AS BIGINT) AS bucket FROM range(128)) g
      LEFT JOIN ncounts0 c USING (bucket)
    ),
    ntot AS (SELECT SUM(c_pos) AS np, SUM(c_neg) AS nn FROM ncounts),
    nlo AS (
      SELECT bucket, c_pos, c_neg,
             CAST(round(ln(
               (CAST(2 * c_pos + 1 AS DOUBLE)
                  / CAST(2 * np + 128 AS DOUBLE))
               / (CAST(2 * c_neg + 1 AS DOUBLE)
                  / CAST(2 * nn + 128 AS DOUBLE))
             ) * 1000000, 0) AS BIGINT) AS w_fp
      FROM ncounts, ntot
    ),
    ndoc AS (
      SELECT SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS dp,
             SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS dn
      FROM ntw
    ),
    npri AS (
      SELECT CAST(round(ln(CAST(2 * dp + 1 AS DOUBLE)
                           / CAST(2 * dn + 1 AS DOUBLE))
                   * 1000000, 0) AS BIGINT) AS prior_fp
      FROM ndoc
    ),
    nmargins AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_feats,
             CAST(SUM(w_fp) AS BIGINT) AS evidence_fp,
             CAST(CAST(SUM(w_fp) AS BIGINT) + prior_fp AS BIGINT)
               AS margin_fp
      FROM nfb JOIN nlo USING (bucket) CROSS JOIN npri
      GROUP BY doc_id, prior_fp
    )
"""


@q(
    "x4_nb_log_odds",
    f"""
    WITH {_nb_cte("documents")}
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(c_pos AS BIGINT) AS c_pos,
           CAST(c_neg AS BIGINT) AS c_neg,
           w_fp
    FROM nlo
    """,
)
def x4_nb_log_odds(spark, sf_dir):
    """X4 — the learned quality classifier's TRAINING pass
    (operators/selection.py:nb_log_odds): closed-form Naive-Bayes
    log-odds over hashed unigram+bigram features, weak-labeled by
    the curated-sources provenance split. ONE corpus scan — both
    class counts are conditional sums in the same vocab-sized
    groupBy — and the output is the 128-row broadcastable
    fixed-point weight table (the artifact nb_classify serves).
    Oracle-exact under the corpus ln→1e-6 fixed-point rule; same
    add-half-smoothed expression tree as the DSIR ratio table,
    reused verbatim."""
    from eco_pulse_lakehouse_spark.operators import selection as xsel

    d = T(spark, sf_dir, "documents")
    return xsel.nb_log_odds(d, _nb_pos_pred())


@q(
    "x4_nb_quality_gate",
    f"""
    WITH {_nb_cte("documents")}
    SELECT doc_id, n_feats, evidence_fp, margin_fp,
           margin_fp >= 0 AS keep
    FROM nmargins
    """,
)
def x4_nb_quality_gate(spark, sf_dir):
    """X4 — learned-classifier INFERENCE over every document
    (operators/selection.py:nb_classify): margin_fp = prior_fp +
    Σ w_fp(bucket(feature)) as an exact BIGINT (any summation
    order), plus the prior-free evidence_fp and the threshold gate —
    the DCLM/FineWeb-Edu quality-classifier rung between the
    heuristic gates (x4_perplexity_buckets) and selection
    (x6_dsir_weights). The learned artifacts broadcast (128-row
    weights + 1-row prior), so inference is one map-side-combinable
    groupBy over the feature stream — the same shape at 100 TB."""
    from eco_pulse_lakehouse_spark.operators import selection as xsel

    d = T(spark, sf_dir, "documents")
    return xsel.nb_classify(d, _nb_pos_pred())


@q(
    "x4_nb_lang_id",
    f"""
    WITH ltw AS (
      SELECT doc_id, lang,
             (CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE)
              / 4294967296.0) < 0.5 AS tr,
             string_split(text, ' ') AS w
      FROM documents
    ),
    lfeats AS (
      SELECT doc_id, lang, tr, u.f
      FROM ltw, unnest(list_concat(w,
        list_transform(range(1, len(w)),
                       i -> array_to_string(w[i:i+1], ' ')))) AS u(f)
    ),
    lfb AS (SELECT doc_id, lang, tr,
                   {_poly_th_sql('f')} % 128 AS bucket
            FROM lfeats),
    lcc AS (
      SELECT lang AS cls, bucket, CAST(COUNT(*) AS BIGINT) AS c_bc
      FROM lfb WHERE tr GROUP BY lang, bucket
    ),
    lnc AS (SELECT cls, CAST(SUM(c_bc) AS BIGINT) AS n_c
            FROM lcc GROUP BY cls),
    lgrid AS (
      SELECT lnc.cls, lnc.n_c, CAST(r.range AS BIGINT) AS bucket
      FROM lnc CROSS JOIN range(0, 128) r
    ),
    ldense AS (
      SELECT g.cls, g.bucket,
             CAST(COALESCE(lcc.c_bc, 0) AS BIGINT) AS c_bc, g.n_c
      FROM lgrid g
      LEFT JOIN lcc ON g.cls = lcc.cls AND g.bucket = lcc.bucket
    ),
    lwts AS (
      SELECT cls, bucket,
             CAST(round(ln(CAST(2 * c_bc + 1 AS DOUBLE)
                           / CAST(2 * n_c + 128 AS DOUBLE))
                  * 1000000, 0) AS BIGINT) AS w_fp
      FROM ldense
    ),
    ldc AS (SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS d_c
            FROM ltw WHERE tr GROUP BY lang),
    ldt AS (SELECT CAST(SUM(d_c) AS BIGINT) AS d_tot,
                   CAST(COUNT(*) AS BIGINT) AS k FROM ldc),
    lpri AS (
      SELECT cls,
             CAST(round(ln(CAST(2 * d_c + 1 AS DOUBLE)
                           / CAST(2 * d_tot + k AS DOUBLE))
                  * 1000000, 0) AS BIGINT) AS prior_fp
      FROM ldc, ldt
    ),
    ldbc AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
             FROM lfb GROUP BY doc_id, bucket),
    lsc AS (
      SELECT d.doc_id, w.cls,
             CAST(SUM(d.n * w.w_fp) AS BIGINT) AS s,
             CAST(SUM(d.n) AS BIGINT) AS n_feats
      FROM ldbc d JOIN lwts w USING (bucket)
      GROUP BY d.doc_id, w.cls
    ),
    lscored AS (
      SELECT lsc.doc_id, lsc.cls, lsc.n_feats,
             CAST(lsc.s + p.prior_fp AS BIGINT) AS score_fp
      FROM lsc JOIN lpri p ON lsc.cls = p.cls
    )
    SELECT doc_id, cls AS pred_lang, score_fp, n_feats FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score_fp DESC, cls ASC) AS rn
      FROM lscored
    ) WHERE rn = 1
    """,
)
def x4_nb_lang_id(spark, sf_dir):
    """X4 — LEARNED language-ID (operators/selection.py:
    nb_multiclass_classify): multiclass Naive Bayes over the hashed
    unigram+bigram stream, trained on the unit-hash half (held-out
    docs are genuinely predicted) and scoring every document — the
    trained counterpart of the heuristic x4_lang_id, completing the
    classifier rung multiclass-side. Dense class×bucket weight grid
    (unseen buckets contribute their zero-count penalty), smoothed
    doc-count priors, exact BIGINT per-(doc, class) scores, (score
    desc, class asc) argmax — 5 rows per doc through the ranking
    window. Weights + priors broadcast at any corpus size."""
    from eco_pulse_lakehouse_spark.operators import selection as xsel
    from eco_pulse_lakehouse_spark.operators.sampling import unit_hash

    d = T(spark, sf_dir, "documents")
    return xsel.nb_multiclass_classify(
        d, train_pred=unit_hash(F.col("doc_id")) < 0.5
    )


# Named so the t44 streaming calibration twin carries it verbatim.
_NB_SWEEP_SQL = f"""
    WITH ctw AS (
      SELECT doc_id, {_NB_POS_SQL} AS is_p,
             {_UNIT_HASH_SQL} < 0.5 AS tr,
             string_split(text, ' ') AS w
      FROM documents
    ),
    cfeats AS (
      SELECT doc_id, is_p, tr, u.f
      FROM ctw, unnest(list_concat(w,
        list_transform(range(1, len(w)),
                       i -> array_to_string(w[i:i+1], ' ')))) AS u(f)
    ),
    cfb AS (SELECT doc_id, is_p, tr,
                   {_poly_th_sql('f')} % 128 AS bucket
            FROM cfeats),
    cc0 AS (
      SELECT bucket,
             SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS c_pos,
             SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS c_neg
      FROM cfb WHERE tr GROUP BY bucket
    ),
    ccd AS (
      SELECT g.bucket,
             CAST(COALESCE(c.c_pos, 0) AS BIGINT) AS c_pos,
             CAST(COALESCE(c.c_neg, 0) AS BIGINT) AS c_neg
      FROM (SELECT CAST(range AS BIGINT) AS bucket FROM range(128)) g
      LEFT JOIN cc0 c USING (bucket)
    ),
    ctt AS (SELECT SUM(c_pos) AS np, SUM(c_neg) AS nn FROM ccd),
    clo AS (
      SELECT bucket,
             CAST(round(ln(
               (CAST(2 * c_pos + 1 AS DOUBLE)
                  / CAST(2 * np + 128 AS DOUBLE))
               / (CAST(2 * c_neg + 1 AS DOUBLE)
                  / CAST(2 * nn + 128 AS DOUBLE))
             ) * 1000000, 0) AS BIGINT) AS w_fp
      FROM ccd, ctt
    ),
    cdoc AS (
      SELECT SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS dp,
             SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS dn
      FROM ctw WHERE tr
    ),
    cpri AS (
      SELECT CAST(round(ln(CAST(2 * dp + 1 AS DOUBLE)
                           / CAST(2 * dn + 1 AS DOUBLE))
                   * 1000000, 0) AS BIGINT) AS prior_fp
      FROM cdoc
    ),
    cmg AS (
      SELECT doc_id, is_p,
             CAST(CAST(SUM(w_fp) AS BIGINT) + prior_fp AS BIGINT)
               AS margin_fp
      FROM cfb JOIN clo USING (bucket) CROSS JOIN cpri
      WHERE NOT tr
      GROUP BY doc_id, is_p, prior_fp
    ),
    cgrid AS (
      SELECT CAST(u.t AS BIGINT) AS threshold_fp
      FROM unnest([-4000000, -3000000, -2000000, -1000000,
                   0, 1000000, 2000000]) AS u(t)
    ),
    cagg AS (
      SELECT threshold_fp,
             CAST(COUNT(*) AS BIGINT) AS n_scored,
             CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
             CAST(SUM(CASE WHEN margin_fp >= threshold_fp
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN margin_fp >= threshold_fp AND is_p
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN margin_fp >= threshold_fp
                           AND NOT is_p
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN margin_fp < threshold_fp AND is_p
                      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN margin_fp < threshold_fp
                           AND NOT is_p
                      THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM cgrid CROSS JOIN cmg
      GROUP BY threshold_fp
    )
    SELECT threshold_fp, n_scored, n_pos, n_kept, tp, fp, fn, tn,
           CAST(CASE WHEN n_kept > 0 THEN (1000000 * tp) // n_kept
                ELSE -1 END AS BIGINT) AS precision_ppm,
           CAST(CASE WHEN n_pos > 0 THEN (1000000 * tp) // n_pos
                ELSE -1 END AS BIGINT) AS recall_ppm,
           CAST(CASE WHEN n_scored > 0
                THEN (1000000 * n_kept) // n_scored
                ELSE -1 END AS BIGINT) AS kept_ppm
    FROM cagg
    """


@q("x4_nb_gate_sweep", _NB_SWEEP_SQL)
def x4_nb_gate_sweep(spark, sf_dir):
    """X4 — threshold CALIBRATION SWEEP for the learned NB quality
    gate (operators/selection.py:nb_gate_sweep; VERDICT r09 item 6 —
    the x3_pq_distortion_sweep pattern applied to the classifier
    rung): train on the unit-hash half, score the genuinely held-out
    complement (the densified weight table makes unseen held-out
    buckets score exactly — the ADVICE r09 fix exercised on a
    certified path), and report exact integer confusion counts +
    ppm rates (integer division, −1 sentinel at zero denominators)
    for seven candidate thresholds spanning the margin distribution
    — the θ=2e6 row keeps ZERO docs at some SFs, pinning the
    sentinel path. One plan: margins computed once, a 7-row grid
    replicated over them, map-side-combinable confusion sums."""
    from eco_pulse_lakehouse_spark.operators import selection as xsel
    from eco_pulse_lakehouse_spark.operators.sampling import unit_hash

    d = T(spark, sf_dir, "documents")
    return xsel.nb_gate_sweep(
        d, _nb_pos_pred(), train_pred=unit_hash(F.col("doc_id")) < 0.5
    )


@q(
    "x1_soft_dedup",
    """
    SELECT doc_id,
           CAST(COUNT(*) OVER (PARTITION BY text) AS BIGINT) AS n_copies,
           CAST(1 AS DOUBLE) / CAST(COUNT(*) OVER (PARTITION BY text)
                                    AS DOUBLE) AS weight
    FROM documents
    """,
)
def x1_soft_dedup(spark, sf_dir):
    """X1 — SoftDeDup: keep every exact duplicate but down-weight it
    to 1/|group| sampling mass (operators/selection.py:
    soft_dedup_weights) — the reweighting alternative to
    exact_dedup's hard drop. One window count over the content key,
    single correctly-rounded division. sf0.1 carries real duplicate
    groups (8 texts duplicated); smaller SFs are all-unique, where
    the contract degrades to n_copies=1/weight=1.0 — crafted dup
    groups are pinned in tests/test_northstar.py."""
    from eco_pulse_lakehouse_spark.operators import selection as xsel

    d = T(spark, sf_dir, "documents")
    return xsel.soft_dedup_weights(d, ["text"], "doc_id")


# =====================================================================
# X3 — 1-bit binary quantization (operators/similarity.py)
# =====================================================================

_BQ_LO = "\n             + ".join(
    f"(CASE WHEN embedding[{j + 1}] > 0 THEN CAST({1 << j} AS BIGINT)"
    " ELSE 0 END)"
    for j in range(32)
)
_BQ_HI = "\n             + ".join(
    f"(CASE WHEN embedding[{j + 33}] > 0 THEN CAST({1 << j} AS BIGINT)"
    " ELSE 0 END)"
    for j in range(32)
)


@q(
    "x3_binary_quant_topk",
    f"""
    WITH e AS (
      SELECT vec_id, embedding,
             {_BQ_LO} AS b_lo,
             {_BQ_HI} AS b_hi
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qa, b_lo AS qlo,
                 b_hi AS qhi
          FROM e WHERE vec_id < 10),
    c AS (SELECT vec_id AS c_id, embedding AS cb, b_lo AS clo,
                 b_hi AS chi
          FROM e),
    pre AS (
      SELECT q_id, c_id, qa, cb,
             CAST(bit_count(xor(qlo, clo))
                  + bit_count(xor(qhi, chi)) AS INT) AS hamming
      FROM q CROSS JOIN c WHERE q_id != c_id
    ),
    pref AS (
      SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY hamming ASC, c_id ASC) AS pr
      FROM pre
    ),
    rr AS (
      SELECT q_id, c_id, hamming,
             round({_cos('qa', 'cb')}, 6) AS sim
      FROM pref WHERE pr <= 64
    )
    SELECT q_id, c_id, hamming, sim, rk FROM (
      SELECT q_id, c_id, hamming, sim,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY sim DESC, c_id ASC) AS INT) AS rk
      FROM rr
    ) WHERE rk <= 10
    """,
)
def x3_binary_quant_topk(spark, sf_dir):
    """X3 — 1-bit binary-quantized two-stage ANN (similarity.py:
    binary_quantize + binary_hamming_topk): sign bits packed into two
    32-bit words (8 bytes/vector, 32× under int8), Hamming
    XOR+popcount prefilters to the best 64, exact cosine reranks to
    top-10. Bottom rung of the quantization ladder (int8 / PQ /
    IVF-PQ / MRL are the rungs above); sign-vs-0 comparisons and
    literal power-of-two sums make the codes oracle-exact."""
    d = T(spark, sf_dir, "embeddings")
    bq = xs.binary_quantize(d, "embedding")
    qs_ = bq.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        "b_lo", "b_hi",
    )
    cs = bq.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        "b_lo", "b_hi",
    )
    return xs.binary_hamming_topk(qs_, cs, k=10, m_rerank=64)


@q(
    "x4_trigram_backoff",
    """
    WITH tw AS (
      SELECT doc_id,
             (CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE)
              / 4294967296.0) < 0.5 AS tr,
             string_split(text, ' ') AS w
      FROM documents
    ),
    tri AS (
      SELECT doc_id, tr, w[i] AS g0, w[i+1] AS g1, w[i+2] AS g2
      FROM tw, unnest(range(1, len(w) - 1)) AS u(i)
      WHERE len(w) >= 3
    ),
    bi AS (
      SELECT doc_id, tr, w[i] AS g0, w[i+1] AS g1
      FROM tw, unnest(range(1, len(w))) AS u(i)
      WHERE len(w) >= 2
    ),
    uni AS (SELECT doc_id, tr, u.g0 FROM tw, unnest(w) AS u(g0)),
    t3 AS (SELECT g0, g1, g2, COUNT(*) AS n3 FROM tri WHERE tr
           GROUP BY g0, g1, g2),
    t3x AS (SELECT g0, g1, COUNT(*) AS n3x FROM tri WHERE tr
            GROUP BY g0, g1),
    t2 AS (SELECT g0, g1, COUNT(*) AS n2 FROM bi WHERE tr
           GROUP BY g0, g1),
    t2x AS (SELECT g0, COUNT(*) AS n2x FROM bi WHERE tr GROUP BY g0),
    t1 AS (SELECT g0, COUNT(*) AS n1 FROM uni WHERE tr GROUP BY g0),
    nt AS (SELECT COUNT(*) AS n FROM uni WHERE tr),
    sc AS (
      SELECT t.doc_id,
        CAST(round(-ln(
          CASE
            WHEN t3.n3 IS NOT NULL
              THEN CAST(t3.n3 AS DOUBLE) / CAST(t3x.n3x AS DOUBLE)
            WHEN t2.n2 IS NOT NULL
              THEN CAST(0.4 AS DOUBLE)
                   * (CAST(t2.n2 AS DOUBLE) / CAST(t2x.n2x AS DOUBLE))
            WHEN t1.n1 IS NOT NULL
              THEN CAST(0.16000000000000003 AS DOUBLE)
                   * (CAST(t1.n1 AS DOUBLE) / CAST(nt.n AS DOUBLE))
            ELSE CAST(0.16000000000000003 AS DOUBLE)
                 * (CAST(1 AS DOUBLE) / CAST(nt.n AS DOUBLE))
          END
        ) * 1000000, 0) AS BIGINT) AS fp
      FROM tri t
      LEFT JOIN t3 ON t.g0 = t3.g0 AND t.g1 = t3.g1 AND t.g2 = t3.g2
      LEFT JOIN t3x ON t.g0 = t3x.g0 AND t.g1 = t3x.g1
      LEFT JOIN t2 ON t.g1 = t2.g0 AND t.g2 = t2.g1
      LEFT JOIN t2x ON t.g1 = t2x.g0
      LEFT JOIN t1 ON t.g2 = t1.g0
      CROSS JOIN nt
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
             SUM(fp) AS s
      FROM sc GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_scored, 0) AS BIGINT) AS n_scored,
           round(CAST(a.s AS DOUBLE) / CAST(a.n_scored AS DOUBLE)
                 / 1000000.0, 6) AS avg_surprisal
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def x4_trigram_backoff(spark, sf_dir):
    """X4 — held-out trigram surprisal under STUPID BACKOFF (Brants
    et al. 2007; operators/retrieval.py:trigram_backoff_score): the
    LM trains on the unit-hash half of the pool and scores every
    document, so out-of-half docs genuinely exercise the α / α² /
    OOV-floor backoff chain (the third rung of the LM-quality
    ladder: x4_unigram_logprob → x4_bigram_logprob → this). α = 0.4
    with the exact double α² literal mirrored cross-engine; each
    position's −ln rounds to 1e-6 fixed point."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        trigram_backoff_score,
    )
    from eco_pulse_lakehouse_spark.operators.sampling import unit_hash

    d = T(spark, sf_dir, "documents")
    return trigram_backoff_score(d, unit_hash(F.col("doc_id")) < 0.5)


@q(
    "x4_distinct_ngrams",
    """
    WITH tw AS (SELECT lang, string_split(text, ' ') AS w
                FROM documents),
    g1 AS (SELECT lang, 1 AS n, u.g FROM tw, unnest(w) AS u(g)),
    g2 AS (
      SELECT lang, 2 AS n, array_to_string(w[i:i+1], ' ') AS g
      FROM tw, unnest(range(1, len(w))) AS u(i) WHERE len(w) >= 2
    ),
    g3 AS (
      SELECT lang, 3 AS n, array_to_string(w[i:i+2], ' ') AS g
      FROM tw, unnest(range(1, len(w) - 1)) AS u(i) WHERE len(w) >= 3
    ),
    allg AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
             UNION ALL SELECT * FROM g3)
    SELECT lang, CAST(n AS INT) AS n,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT g) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS distinct_ratio
    FROM allg GROUP BY lang, n
    """,
)
def x4_distinct_ngrams(spark, sf_dir):
    """X4 — distinct-1/2/3 diversity profile per language slice
    (functions/text.py:distinct_ngram_stats): the corpus-level
    template/mode-collapse diagnostic; exact count-distinct here,
    HLL at 100 TB (the a6 ladder)."""
    from eco_pulse_lakehouse_spark.functions.text import (
        distinct_ngram_stats,
    )

    d = T(spark, sf_dir, "documents")
    return distinct_ngram_stats(d, "doc_id", "text", "lang")


# =====================================================================
# X5 — perceptual average-hash (operators/multimodal.py)
# =====================================================================

def _ah_cell(j: int) -> str:
    # Integer floor-division — float floor(j*n/64.0) diverges from
    # the operator's exact integer form once j*n exceeds 2^53
    # (ADVICE r10; same fix as the pHash oracle below).
    lo = f"CAST(({j} * n) // 64 AS BIGINT)"
    hi = f"CAST(({j + 1} * n) // 64 AS BIGINT)"
    return (
        f"(CASE WHEN COALESCE(list_sum(cd[{lo} + 1 : {hi}]), 0) * n"
        f" > tot * ({hi} - {lo})"
        f" THEN CAST({1 << (j % 32)} AS BIGINT) ELSE 0 END)"
    )


_AH_LO = "\n             + ".join(_ah_cell(j) for j in range(32))
_AH_HI = "\n             + ".join(_ah_cell(j) for j in range(32, 64))


@q(
    "x5_image_ahash",
    f"""
    WITH c0 AS (
      SELECT doc_id,
             list_transform(string_split(text, ''),
               ch -> CAST(greatest(unicode(ch), 0) AS BIGINT)) AS cd
      FROM documents
    ),
    c1 AS (
      SELECT doc_id, cd, CAST(len(cd) AS BIGINT) AS n,
             CAST(COALESCE(list_sum(cd), 0) AS BIGINT) AS tot
      FROM c0
    )
    SELECT doc_id, n AS n_bytes,
           {_AH_LO} AS b_lo,
           {_AH_HI} AS b_hi
    FROM c1
    """,
)
def x5_image_ahash(spark, sf_dir):
    """X5 — perceptual average-hash over the multimodal payload
    (operators/multimodal.py:perceptual_ahash): 64 contiguous byte
    slices as the stand-in 8×8 gray grid, bit = cell above the
    global mean via exact integer cross-multiplication — no float,
    no division, oracle-exact. ahash_neardup_pairs consumes the
    packed words for media near-dup (crafted-pair pytest; real
    pairs need real images — decode stays the documented env gate)."""
    d = T(spark, sf_dir, "documents")
    mm = xm.to_multimodal(d)
    return xm.perceptual_ahash(mm)


def _phash_oracle() -> str:
    from eco_pulse_lakehouse_spark.operators.multimodal import PHASH_DCT

    basis_vals = ", ".join(
        f"({u}, {x}, {PHASH_DCT[u][x]})"
        for u in range(8)
        for x in range(8)
    )
    return f"""
    WITH p AS (
      SELECT doc_id, text,
             CAST(octet_length(encode(text)) AS BIGINT) AS n
      FROM documents
    ),
    codes AS (
      SELECT doc_id, n,
             CASE WHEN n > 0 THEN
               list_transform(string_split(text, ''),
                              c -> CAST(greatest(unicode(c), 0) AS BIGINT))
             ELSE [] END AS cd
      FROM p
    ),
    cells AS (
      SELECT doc_id, n, j,
             CAST(j % 8 AS INT) AS x, CAST(j // 8 AS INT) AS y,
             CASE WHEN e - s > 0
                  THEN (COALESCE(list_sum(cd[s + 1 : e]), 0) * 100)
                       // (e - s)
                  ELSE 0 END AS gray
      FROM (
        SELECT doc_id, n, cd, j,
               CAST((j * n) // 64 AS BIGINT) AS s,
               CAST(((j + 1) * n) // 64 AS BIGINT) AS e
        FROM codes, unnest(range(0, 64)) AS u(j)
      )
    ),
    basis AS (SELECT * FROM (VALUES {basis_vals}) AS t(u, x, c)),
    stage1 AS (
      SELECT doc_id, u, y, SUM(c * gray) AS s1
      FROM cells JOIN basis USING (x)
      GROUP BY 1, 2, 3
    ),
    coefs AS (
      SELECT doc_id, u, v, SUM(c2 * s1) AS coef
      FROM stage1 JOIN (SELECT u AS v, x AS y, c AS c2 FROM basis) b
        USING (y)
      GROUP BY 1, 2, 3
    ),
    med AS (
      SELECT doc_id, coef AS m FROM (
        SELECT doc_id, coef,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY coef ASC, u ASC, v ASC) AS rn
        FROM coefs WHERE NOT (u = 0 AND v = 0)
      ) WHERE rn = 32
    ),
    bits AS (
      SELECT c.doc_id, u * 8 + v AS bit,
             CASE WHEN coef > m THEN CAST(1 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS b
      FROM coefs c JOIN med USING (doc_id)
    )
    SELECT b.doc_id, p.n AS n_bytes,
           CAST(SUM(CASE WHEN bit < 32
                    THEN b * (CAST(1 AS BIGINT) << bit)
                    ELSE 0 END) AS BIGINT) AS b_lo,
           CAST(SUM(CASE WHEN bit >= 32
                    THEN b * (CAST(1 AS BIGINT) << (bit - 32))
                    ELSE 0 END) AS BIGINT) AS b_hi
    FROM bits b JOIN p USING (doc_id)
    GROUP BY 1, 2
    """


@q("x5_image_phash", _phash_oracle())
def x5_image_phash(spark, sf_dir):
    """X5 — perceptual DCT hash (pHash;
    operators/multimodal.py:perceptual_phash): the frequency-domain
    tier next to x5_image_ahash's spatial mean bits — 8×8 gray grid
    → separable 2-D DCT-II over the integer 1e4 fixed-point cosine
    basis (PHASH_DCT, compile-time literals shared with the oracle)
    → bit = coefficient > the exact integer median of the 63 non-DC
    coefficients. Grays are 1e2 fixed-point cell means (integer
    div); the DCT stages are broadcast joins against the 64-row
    basis + partial aggregations; the median is one per-doc rank.
    Same two-word layout as aHash, so ahash_neardup_pairs pairs
    pHashes unchanged. Real decode = the documented env-gated
    stub."""
    d = T(spark, sf_dir, "documents")
    mm = xm.to_multimodal(d)
    return xm.perceptual_phash(mm)


@q(
    "flagship_curation_select",
    f"""
    WITH dd AS (
      SELECT doc_id, lang, source, text FROM (
        SELECT doc_id, lang, source, text,
               row_number() OVER (PARTITION BY text
                                  ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
    ),
    ltw AS (SELECT doc_id, string_split(text, ' ') AS w FROM dd),
    lch AS (
      SELECT doc_id, i AS cid,
             array_to_string(w[3*i+1 : 3*i+3], ' ') AS chunk
      FROM ltw, unnest(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT)))
             AS u(i)
    ),
    lranked AS (
      SELECT doc_id, cid, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, cid) AS rn
      FROM lch
    ),
    lkept AS (SELECT doc_id, cid, chunk FROM lranked WHERE rn = 1),
    lrebuilt AS (
      SELECT doc_id, string_agg(chunk, ' ' ORDER BY cid) AS clean
      FROM lkept GROUP BY doc_id
    ),
    cdocs AS (
      SELECT d.doc_id, d.lang, d.source, r.clean AS text
      FROM dd d JOIN lrebuilt r ON d.doc_id = r.doc_id
      WHERE r.clean != ''
    ),
    {_nb_cte("cdocs")},
    gkept AS (
      SELECT c.doc_id, c.lang, c.text
      FROM cdocs c JOIN nmargins m USING (doc_id)
      WHERE m.evidence_fp >= 0
    ),
    {_dsir_fb("gkept")}
    SELECT w.doc_id, c.lang, w.weight_fp,
           CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens
    FROM weights w JOIN gkept c ON w.doc_id = c.doc_id
    ORDER BY w.weight_fp DESC, w.doc_id ASC LIMIT 100
    """,
)
def flagship_curation_select(spark, sf_dir):
    """Flagship #6 — the composed CURATION-SELECTION pipeline
    (plans/curation.py): exact dedup → CCNet keep-first line dedup →
    learned NB quality gate (trained on the cleaned text, evidence ≥
    0 — VERDICT r08 item 2) → DSIR importance top-100 over the gated
    text, end-to-end oracle-checked. Dedup runs before any LM on
    purpose — duplicated boilerplate would otherwise drag every
    classifier and selection weight toward the boilerplate
    distribution (the CCNet ordering); the classifier gates before
    DSIR so the importance model fits the quality-passing pool.
    Output manifest feeds flagship_training_export's rebalance/split
    stage."""
    from eco_pulse_lakehouse_spark.plans.curation import (
        flagship_curation,
    )

    return flagship_curation(spark, sf_dir)


@q(
    "flagship_data_factory",
    f"""
    WITH dd AS (
      SELECT doc_id, lang, source, text FROM (
        SELECT doc_id, lang, source, text,
               row_number() OVER (PARTITION BY text
                                  ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
    ),
    ltw AS (SELECT doc_id, string_split(text, ' ') AS w FROM dd),
    lch AS (
      SELECT doc_id, i AS cid,
             array_to_string(w[3*i+1 : 3*i+3], ' ') AS chunk
      FROM ltw, unnest(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT)))
             AS u(i)
    ),
    lranked AS (
      SELECT doc_id, cid, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, cid) AS rn
      FROM lch
    ),
    lkept AS (SELECT doc_id, cid, chunk FROM lranked WHERE rn = 1),
    lrebuilt AS (
      SELECT doc_id, string_agg(chunk, ' ' ORDER BY cid) AS clean
      FROM lkept GROUP BY doc_id
    ),
    cdocs AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.source, r.clean AS text
      FROM dd d JOIN lrebuilt r ON d.doc_id = r.doc_id
      WHERE r.clean != ''
    ),
    {_ppx_ctes("cdocs")},
    pkept AS MATERIALIZED (
      SELECT c.* FROM cdocs c JOIN bucketed b USING (doc_id)
      WHERE b.ppx_bucket <= 2
    ),
    {_nb_cte("pkept")},
    gkept AS (
      SELECT c.doc_id, c.lang, c.text
      FROM pkept c JOIN nmargins m USING (doc_id)
      WHERE m.evidence_fp >= 0
    ),
    {_dsir_fb("gkept")},
    ftok AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM gkept
    ),
    fr AS (
      SELECT w.doc_id, g.lang, w.weight_fp, t.n_tokens,
             SUM(t.n_tokens) OVER (
               ORDER BY w.weight_fp DESC, w.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS run_tokens
      FROM weights w
      JOIN ftok t USING (doc_id)
      JOIN gkept g USING (doc_id)
    )
    SELECT doc_id, lang, weight_fp, n_tokens,
           CAST(run_tokens AS BIGINT) AS run_tokens
    FROM fr WHERE run_tokens <= 4000
    """,
)
def flagship_data_factory(spark, sf_dir):
    """Flagship #8 — the complete PRETRAINING DATA FACTORY
    (plans/data_factory.py): exact dedup → CCNet line dedup →
    perplexity gate (heuristic-LM rung, per-language terciles over
    the CLEANED text) → learned NB quality gate (trained on the
    perplexity-passing pool) → DSIR importance weights → greedy
    token-BUDGET prefix, end-to-end under ONE composed oracle — the
    production order (CCNet/DCLM): dedup before any LM, cheap gate
    before learned gate, selection last, tokens (not rows) as the
    stopping rule. Stages 4-5 share one pinned doc-bucket featurize
    pass (the t37/t41 artifact); the budget cumsum is the
    distributed global_running_sum — no single-partition window, no
    per-language single-task sort, no text re-scan."""
    from eco_pulse_lakehouse_spark.plans.data_factory import (
        data_factory_manifest,
    )

    d = T(spark, sf_dir, "documents")
    return data_factory_manifest(d, token_budget=4000)


@q(
    "flagship_data_factory_nb",
    f"""
    WITH dd AS (
      SELECT doc_id, lang, source, text FROM (
        SELECT doc_id, lang, source, text,
               row_number() OVER (PARTITION BY text
                                  ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
    ),
    ltw AS (SELECT doc_id, string_split(text, ' ') AS w FROM dd),
    lch AS (
      SELECT doc_id, i AS cid,
             array_to_string(w[3*i+1 : 3*i+3], ' ') AS chunk
      FROM ltw, unnest(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT)))
             AS u(i)
    ),
    lranked AS (
      SELECT doc_id, cid, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, cid) AS rn
      FROM lch
    ),
    lkept AS (SELECT doc_id, cid, chunk FROM lranked WHERE rn = 1),
    lrebuilt AS (
      SELECT doc_id, string_agg(chunk, ' ' ORDER BY cid) AS clean
      FROM lkept GROUP BY doc_id
    ),
    cdocs AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.source, r.clean AS text
      FROM dd d JOIN lrebuilt r ON d.doc_id = r.doc_id
      WHERE r.clean != ''
    ),
    {_ppx_ctes("cdocs")},
    pkept AS MATERIALIZED (
      SELECT c.* FROM cdocs c JOIN bucketed b USING (doc_id)
      WHERE b.ppx_bucket <= 2
    ),
    {_nb_cte("pkept")},
    pflag AS MATERIALIZED (
      SELECT c.doc_id, c.lang, c.text,
             (m.evidence_fp >= 0) AS is_t
      FROM pkept c JOIN nmargins m USING (doc_id)
    ),
    {_dsir_fb_flagged("pflag")},
    ftok AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM pflag WHERE is_t
    ),
    fr AS (
      SELECT w.doc_id, g.lang, w.weight_fp, t.n_tokens,
             SUM(t.n_tokens) OVER (
               ORDER BY w.weight_fp DESC, w.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS run_tokens
      FROM weights w
      JOIN ftok t USING (doc_id)
      JOIN pflag g USING (doc_id)
    )
    SELECT doc_id, lang, weight_fp, n_tokens,
           CAST(run_tokens AS BIGINT) AS run_tokens
    FROM fr WHERE run_tokens <= 4000
    """,
)
def flagship_data_factory_nb(spark, sf_dir):
    """Flagship #8b — the data factory with a LEARNED DSIR target
    (plans/data_factory.py:data_factory_manifest(dsir_target=
    'nb_kept'); the DCLM-style feedback loop): stage 5's importance
    model is trained with the NB classifier's OWN kept pool as the
    target distribution against the full perplexity-passing pool —
    so selection up-weights documents resembling what the learned
    gate approves, instead of the fixed lang='en' slice flagship #8
    uses. Same pinned doc-bucket featurize pass feeds the gate AND
    the flagged DSIR counts (only the flag differs — no re-scan);
    oracle composes the identical dedup/ppx/NB fragments with the
    flagged _dsir_fb variant. The two recipes provably diverge on
    this corpus (pytest: selected manifests differ)."""
    from eco_pulse_lakehouse_spark.plans.data_factory import (
        data_factory_manifest,
    )

    d = T(spark, sf_dir, "documents")
    return data_factory_manifest(
        d, token_budget=4000, dsir_target="nb_kept"
    )


@q(
    "x2_prefix_filter_jaccard",
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                 list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
               ELSE [] END) AS s
      FROM documents
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
               AS jaccard
      FROM sh a JOIN sh b
        ON a.doc_id < b.doc_id AND len(a.s) + len(b.s) > 0
    ) WHERE jaccard >= 0.5
    """,
)
def x2_prefix_filter_jaccard(spark, sf_dir):
    """X2 — exact Jaccard ≥ 0.5 via PPJoin-style prefix filtering
    (operators/dedup.py:prefix_filter_jaccard_pairs): only each
    record's |x|−⌈t·|x|⌉+1 RAREST shingles enter the candidate
    index, yet the prefix lemma makes the output identical to the
    naive all-pairs truth — so the oracle IS that naive form (the
    grid-join certification pattern). The boilerplate shingles that
    skew the full inverted index never enter this one."""
    d = T(spark, sf_dir, "documents")
    return xd.prefix_filter_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.5
    )


@q(
    "x6_budget_select",
    f"""
    WITH {_dsir_fb("documents")},
    tok AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT w.doc_id, w.weight_fp, t.n_tokens,
             SUM(t.n_tokens) OVER (
               ORDER BY w.weight_fp DESC, w.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS run_tokens
      FROM weights w JOIN tok t USING (doc_id)
    )
    SELECT doc_id, weight_fp, n_tokens,
           CAST(run_tokens AS BIGINT) AS run_tokens
    FROM r WHERE run_tokens <= 5000
    """,
)
def x6_budget_select(spark, sf_dir):
    """X6 — token-BUDGET-constrained DSIR selection (selection.py:
    budget_select): greedy prefix of the weight order until 5000
    cumulative tokens — the "best N tokens" consumption shape.
    The global cumulative sum runs DISTRIBUTED (rank.py:
    global_running_sum — range partition + local windows + broadcast
    offsets), never a single-partition window."""
    from eco_pulse_lakehouse_spark.operators import selection as xsel

    d = T(spark, sf_dir, "documents")
    return xsel.budget_select(d, F.col("lang") == "en", token_budget=5000)


@q(
    "x2_canonical_per_cluster",
    f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                 list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
               ELSE [] END) AS s
      FROM documents
    ), pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                 AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.2
    ), edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ){_cc_label_prop_sql()}, {_dsir_fb("documents")},
    alldocs AS (
      SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    )
    SELECT comp, doc_id, weight_fp, n_members FROM (
      SELECT f.comp, f.doc_id, w.weight_fp,
             CAST(COUNT(*) OVER (PARTITION BY f.comp) AS BIGINT)
               AS n_members,
             row_number() OVER (PARTITION BY f.comp
               ORDER BY w.weight_fp DESC, f.doc_id ASC) AS rn
      FROM alldocs f JOIN weights w ON f.doc_id = w.doc_id
    ) WHERE rn = 1
    """,
)
def x2_canonical_per_cluster(spark, sf_dir):
    """X2/X6 — quality-aware CANONICAL selection: near-dup clusters
    (Jaccard ≥ 0.2 pairs → pointer-jumping components) each keep
    their highest-DSIR-weight member, singletons keep themselves
    (operators/selection.py:canonical_per_cluster) — the keep-BEST
    tier above exact_dedup's keep-lowest-id and line_dedup's
    keep-first. The oracle composes the CC label-propagation
    fixpoint (with the poison certificate) with the DSIR weight CTEs
    in one statement."""
    from eco_pulse_lakehouse_spark.operators.selection import (
        canonical_per_cluster,
    )

    d = T(spark, sf_dir, "documents")
    pairs = xd.ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.2
    )
    return canonical_per_cluster(d, pairs, F.col("lang") == "en")


@q(
    "x2_winnowing_clusters",
    f"""
    WITH {_winnow_fp_ctes("w")},
    wpairs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM wpairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM wpairs
    ){_cc_label_prop_sql()}, {_dsir_fb("documents")},
    alldocs AS (
      SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    )
    SELECT comp, doc_id, weight_fp, n_members FROM (
      SELECT f.comp, f.doc_id, w.weight_fp,
             CAST(COUNT(*) OVER (PARTITION BY f.comp) AS BIGINT)
               AS n_members,
             row_number() OVER (PARTITION BY f.comp
               ORDER BY w.weight_fp DESC, f.doc_id ASC) AS rn
      FROM alldocs f JOIN weights w ON f.doc_id = w.doc_id
    ) WHERE rn = 1
    """,
)
def x2_winnowing_clusters(spark, sf_dir):
    """X2 end-game — the MOSS pipeline's actual END STATE: winnowing
    fingerprint pairs (x2_winnowing_pairs' index, _winnow_fp_ctes
    shared verbatim) resolved into duplicate GROUPS via
    pointer-jumping connected components, each group keeping its
    best-by-DSIR-weight member, singletons keeping themselves
    (operators/selection.py:canonical_per_cluster — the same
    composed stage as x2_canonical_per_cluster, fed by the
    DETERMINISTIC pair tier instead of Jaccard: any shared
    ≥ w+k−1 = 6-token run is guaranteed to land both docs in one
    cluster). Oracle composes the winnowing index + the CC
    label-propagation fixpoint (with the poison certificate) + the
    DSIR weight CTEs in one statement. Scale: fingerprint-keyed
    equi-join pairs (~2/(w+1) index), node-sized CC rounds, one
    per-cluster ranking window — no all-pairs stage anywhere."""
    from eco_pulse_lakehouse_spark.operators.selection import (
        canonical_per_cluster,
    )

    d = T(spark, sf_dir, "documents")
    pairs = xd.winnowing_pairs(
        d, "doc_id", "text", k=3, w=4, min_shared=2,
        token_hash=xd.poly_token_hash,
    )
    return canonical_per_cluster(d, pairs, F.col("lang") == "en")


@q(
    "x6_k_anonymity",
    """
    WITH g AS (
      SELECT doc_id, lang, source,
             CAST(COUNT(*) OVER (PARTITION BY lang, source) AS BIGINT)
               AS group_n
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN group_n < 5 THEN '*' ELSE lang END AS lang,
           CASE WHEN group_n < 5 THEN '*' ELSE source END AS source,
           group_n,
           group_n < 5 AS suppressed
    FROM g
    """,
)
def x6_k_anonymity(spark, sf_dir):
    """X6 — k-anonymity suppression (Sweeney 2002; operators/
    quality.py:k_anonymize): (lang, source) combinations held by
    fewer than 5 documents are redacted before release, so every
    shipped quasi-identifier combination describes ≥ 5 docs. One
    window count + row-local CASEs; complements scrub_pii (in-text)
    with release-metadata privacy."""
    from eco_pulse_lakehouse_spark.operators.quality import k_anonymize

    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return k_anonymize(d, ["lang", "source"], k=5)
