"""BPE merge-rule learning — tokenizer training as a Spark job
(north-star X4 adjacency; SURVEY.md §2.11).

A training-data engine that counts tokens (functions/text.py's
BPE-ish regex) should also be able to LEARN the tokenizer: byte-pair
encoding (Sennrich et al., ACL 2016) greedily merges the most
frequent adjacent symbol pair, n_merges times. The reference has no
tokenizer surface at all; for LLM data pipelines this is the
canonical preprocessing fit.

The only decomposition that survives 100 TB (and the one the
Hugging Face BPE trainer itself uses): the corpus is scanned ONCE
into a (word, frequency) table — vocabulary-sized by Heaps' law
(millions of rows, not terabytes) — and every merge round after that
touches only the vocabulary:

  pair counts — explode adjacent symbol pairs of each word's current
                segmentation, weighted by word frequency; one
                map-side-combinable groupBy over vocab-sized input.
  argmax      — a ONE-ROW collect per round (ties broken
                lexicographically), the same driver-loop protocol as
                operators/components.py / pagerank: per-round driver
                data is metadata-scale, never the corpus.
  apply       — one O(|word|) left-to-right fold per vocab word; the
                fold is a HOF expression (no UDF, no regex), replayed
                verbatim by the DuckDB oracle via list_reduce with a
                LIST accumulator.

Each round's segmentation is pinned (``session.pin``) so round r does
not recompute rounds 1..r-1's folds, exactly the components.py loop
discipline.

Determinism: pair counts are exact BIGINTs; the argmax tiebreak is
(count desc, left asc, right asc) over ASCII symbols, identical under
Spark UTF8_BINARY and DuckDB binary collation — so the learned merge
table is bit-identical cross-engine and the corpus entry
(x4_bpe_merges) carries a full oracle, unlike any public sketch of
on-cluster BPE we know of.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.functions.text import tokens
from eco_pulse_lakehouse_spark.session import local_frame, pin


def _empty_str_array() -> Column:
    return F.slice(F.array(F.lit("")), 1, 0)


def _char_segmentation(w: Column) -> Column:
    """Initial BPE state: the word as an array of 1-char symbols."""
    return F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.substring(w, i, F.lit(1)),
    )


def _adjacent_pairs(seg_col: str) -> Column:
    """Array of (left_sym, right_sym) structs for adjacent symbols.
    Guarded for 1-symbol words: Spark's sequence(1, 0) is DESCENDING
    [1, 0], not empty, so the unguarded form would index position 0."""
    pair_idx = F.when(
        F.size(seg_col) >= 2,
        F.sequence(F.lit(1), F.size(seg_col) - 1),
    ).otherwise(F.slice(F.array(F.lit(1)), 1, 0))
    return F.transform(
        pair_idx,
        lambda i: F.struct(
            F.element_at(F.col(seg_col), i).alias("left_sym"),
            F.element_at(F.col(seg_col), i + 1).alias("right_sym"),
        ),
    )


def apply_merge(seg: Column, left: str, right: str) -> Column:
    """Left-to-right, non-overlapping replacement of the adjacent
    pair (left, right) by its concatenation — one O(|seg|) fold.
    try_element_at(acc, -1) is NULL on the empty accumulator (ANSI
    mode would make element_at throw), and NULL compares to false, so
    the first symbol always lands in the append branch."""
    return F.aggregate(
        seg,
        _empty_str_array(),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.try_element_at(acc, F.lit(-1)), s)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def learn_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules over the corpus.

    Returns (merge_round, left_sym, right_sym, pair_count) — the
    merge table a tokenizer would ship, in learning order. Stops
    early if no adjacent pair remains (fully merged vocabulary).
    """
    words = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return learn_bpe_merges_from_vocab(words, n_merges=n_merges)


def learn_bpe_merges_from_vocab(
    words: DataFrame,
    n_merges: int = 6,
    w_col: str = "w",
    f_col: str = "f",
) -> DataFrame:
    """Learn merges from a pre-built (word, frequency) table — the
    entry point for INCREMENTALLY-MAINTAINED vocabularies (word
    counts are linear, so per-batch partials SUM-merge to exactly the
    one-pass table; t36_stream_bpe streams them in). Same loop as
    :func:`learn_bpe_merges`, which delegates here."""
    spark = words.sparkSession
    seg = (
        words.select(
            F.col(f_col).alias("f"),
            _char_segmentation(F.col(w_col)).alias("seg"),
        )
        .transform(pin)
    )
    learned: list[tuple[int, str, str, int]] = []
    for merge_round in range(1, n_merges + 1):
        pairs = (
            seg.select("f", F.explode(_adjacent_pairs("seg")).alias("p"))
            .groupBy("p.left_sym", "p.right_sym")
            .agg(F.sum("f").alias("pair_count"))
        )
        best = (
            pairs.orderBy(
                F.col("pair_count").desc(),
                F.col("left_sym").asc(),
                F.col("right_sym").asc(),
            )
            .limit(1)
            .collect()  # ONE row — driver-loop protocol (see module doc)
        )
        if not best:
            break
        b = best[0]
        learned.append(
            (merge_round, b.left_sym, b.right_sym, int(b.pair_count))
        )
        seg = seg.withColumn(
            "seg", apply_merge(F.col("seg"), b.left_sym, b.right_sym)
        ).transform(pin)
    return local_frame(
        spark,
        learned,
        "merge_round int, left_sym string, right_sym string, "
        "pair_count bigint",
    )


def learn_wordpiece_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
) -> DataFrame:
    """Learn the first ``n_merges`` WORDPIECE merge rules (Schuster &
    Nakajima, ICASSP 2012 — the likelihood objective the Hugging Face
    WordPiece trainer uses): where BPE merges the most FREQUENT
    adjacent pair, WordPiece merges the pair maximizing
    ``count(pair) / (count(left) * count(right))`` — the pair whose
    parts co-occur most above chance, so frequent-but-independent
    pairs (e.g. 'e'+'s' across unrelated words) lose to genuinely
    cohesive units. Same corpus decomposition as
    :func:`learn_bpe_merges` (ONE corpus scan → vocab-sized (word,
    freq) table; per-round work touches only the vocabulary; 1-row
    argmax collect per round), plus one vocab-sized symbol-count
    groupBy per round for the denominator.

    Determinism: the score is compared as the exact fixed point
    ``(pair_count * 10^12) div (count(left) * count(right))`` — pure
    BIGINT arithmetic, truncating division, identical in Spark and
    DuckDB (`div` / `//`), no float anywhere; ties break (score desc,
    pair_count desc, left asc, right asc). BIGINT headroom: exact up
    to pair_count ≤ 9.2e6 and count(l)·count(r) ≤ 9.2e18, ENFORCED by
    a loud per-row raise_error guard (never a silent wrap; pinned in
    tests) — at 100 TB the same expression shifts to
    DECIMAL(38,0)/HUGEINT, which both engines support. The HF '##' continuation-prefix convention is an
    input-alphabet detail (it changes WHAT the initial symbols are,
    not how merges are chosen) deliberately not modeled over this
    corpus's single-space ASCII token streams; the algorithmic
    difference being exercised and certified is the score-based
    argmax.

    Returns (merge_round, left_sym, right_sym, pair_count, score_fp).
    """
    words = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return learn_wordpiece_merges_from_vocab(words, n_merges=n_merges)


def learn_wordpiece_merges_from_vocab(
    words: DataFrame,
    n_merges: int = 6,
    w_col: str = "w",
    f_col: str = "f",
) -> DataFrame:
    """WordPiece loop over a pre-built (word, frequency) table — see
    :func:`learn_wordpiece_merges`. Shares the BPE loop discipline:
    each round's segmentation is pinned so round r never
    recomputes rounds 1..r−1's folds."""
    spark = words.sparkSession
    seg = (
        words.select(
            F.col(f_col).alias("f"),
            _char_segmentation(F.col(w_col)).alias("seg"),
        )
        .transform(pin)
    )
    learned: list[tuple[int, str, str, int, int]] = []
    for merge_round in range(1, n_merges + 1):
        syms = (
            seg.select("f", F.explode("seg").alias("sym"))
            .groupBy("sym")
            .agg(F.sum("f").alias("sym_count"))
        )
        pairs = (
            seg.select("f", F.explode(_adjacent_pairs("seg")).alias("p"))
            .groupBy("p.left_sym", "p.right_sym")
            .agg(F.sum("f").alias("pair_count"))
        )
        scored = (
            pairs.join(
                syms.select(
                    F.col("sym").alias("left_sym"),
                    F.col("sym_count").alias("__lc"),
                ),
                "left_sym",
            )
            .join(
                syms.select(
                    F.col("sym").alias("right_sym"),
                    F.col("sym_count").alias("__rc"),
                ),
                "right_sym",
            )
            .withColumn(
                # Loud BIGINT-headroom guard (ADVICE r08): pair_count
                # · 10¹² wraps past 2⁶³−1 once pair_count exceeds
                # 9 223 372, and __lc·__rc wraps once __lc >
                # (2⁶³−1) div __rc — both silently under ANSI-off
                # arithmetic, so an oversized corpus must fail loudly
                # instead of producing wrapped scores (the SP
                # oracle's MAXLEN-guard discipline).
                "score_fp",
                F.expr(
                    "CASE WHEN pair_count > CAST(9223372 AS BIGINT) "
                    "OR __lc > CAST(9223372036854775807 AS BIGINT) "
                    "div __rc "
                    "THEN CAST(raise_error(concat("
                    "'wordpiece score_fp fixed-point overflow: "
                    "pair_count=', pair_count, ' left_count=', __lc, "
                    "' right_count=', __rc, ' exceed BIGINT headroom "
                    "at scale 1e12 (pair_count limit 9223372); "
                    "shrink the corpus shard or lower fp scale')) "
                    "AS BIGINT) "
                    "ELSE (pair_count * CAST(1000000000000 AS BIGINT)) "
                    "div (__lc * __rc) END"
                ),
            )
        )
        best = (
            scored.orderBy(
                F.col("score_fp").desc(),
                F.col("pair_count").desc(),
                F.col("left_sym").asc(),
                F.col("right_sym").asc(),
            )
            .limit(1)
            .collect()  # ONE row — driver-loop protocol (module doc)
        )
        if not best:
            break
        b = best[0]
        learned.append(
            (
                merge_round,
                b.left_sym,
                b.right_sym,
                int(b.pair_count),
                int(b.score_fp),
            )
        )
        seg = seg.withColumn(
            "seg", apply_merge(F.col("seg"), b.left_sym, b.right_sym)
        ).transform(pin)
    return local_frame(
        spark,
        learned,
        "merge_round int, left_sym string, right_sym string, "
        "pair_count bigint, score_fp bigint",
    )


def unigram_viterbi_segment(
    docs: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
    em_rounds: int = 0,
) -> DataFrame:
    """SentencePiece-style UNIGRAM-LM segmentation (Kudo, ACL 2018):
    segment every vocabulary word into the maximum-likelihood piece
    sequence under a unigram piece LM via VITERBI dynamic
    programming — the E-step of the SentencePiece trainer. The seed
    LM is deterministic: every substring of length ≤ ``max_piece_len``
    of every vocab word, p(piece) = its frequency-weighted occurrence
    count / total occurrences. ``em_rounds`` > 0 runs that many HARD-EM
    re-estimation rounds: pieces are recounted from the current
    Viterbi segmentations (weighted by word frequency), renormalized,
    and the DP re-runs — the Viterbi-approximation of Kudo's EM
    (full EM uses forward-backward expected counts; hard EM is the
    standard on-cluster simplification and converges to the same
    fixed points on unambiguous corpora).

    100 TB shape: ONE corpus scan builds the (word, freq) vocabulary;
    the piece table and every later step are VOCAB-sized; the DP is
    row-local (an O(n·L) fold per word, n = word length) — no
    shuffle beyond the piece-count groupBys. Determinism: piece
    log-probs are ln→1e-6 fixed-point BIGINTs (the DSIR/BM25 ln
    rule); DP scores are exact integer sums; the argmax tiebreak is
    the lexicographic (score, start-position) struct max, identical
    in both engines; so segmentations replay exactly in SQL
    (x4_sp_unigram_segment).

    Returns (w, f, n_pieces, seg_str, best_fp) — seg_str pipe-joined.
    """
    words = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    L = max_piece_len
    # (w, f, pos 0-based, len, piece) for every substring ≤ L
    subs = words.select(
        "w",
        "f",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.length("w") - 1),
                    lambda j: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(F.lit(L), F.length("w") - j),
                        ),
                        lambda l: F.struct(
                            j.cast("int").alias("pos"),
                            l.cast("int").alias("len"),
                            F.col("w")
                            .substr(j + 1, l)
                            .alias("piece"),
                        ),
                    ),
                )
            )
        ).alias("sub"),
    ).select("w", "f", "sub.pos", "sub.len", "sub.piece")

    def lm_from(counts: DataFrame) -> DataFrame:
        """(piece, c) -> (piece, lp) ln→1e-6 fixed point."""
        total = counts.agg(F.sum("c").alias("__t"))
        return counts.crossJoin(F.broadcast(total)).select(
            "piece",
            F.round(
                F.log(F.col("c").cast("double") / F.col("__t").cast("double"))
                * 1_000_000,
                0,
            )
            .cast("bigint")
            .alias("lp"),
        )

    lm = lm_from(
        subs.groupBy("piece").agg(F.sum("f").cast("bigint").alias("c"))
    )

    def viterbi(lm_df: DataFrame) -> DataFrame:
        pcs = (
            subs.join(lm_df, "piece")
            .groupBy("w", "f")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "len", "lp"))
                ).alias("pcs")
            )
        )

        def lp_at(j, ln):  # noqa: ANN001 — HOF lambda columns
            # missing piece (possible after an EM round drops one)
            # scores -inf-like so a candidate using it never wins;
            # characters never leave the vocabulary, so every
            # position always has ≥1 finite candidate
            return F.coalesce(
                F.try_element_at(
                    F.filter(
                        F.col("pcs"),
                        lambda e: (e.getField("pos") == j)
                        & (e.getField("len") == ln),
                    ),
                    F.lit(1),
                ).getField("lp"),
                F.lit(-(10**15)).cast("bigint"),
            )

        n = F.length("w")
        init = F.array(
            F.struct(
                F.lit(0).cast("bigint").alias("s"),
                F.lit(0).cast("int").alias("b"),
            )
        )
        dp = F.aggregate(
            F.sequence(F.lit(1), n),
            init,
            lambda acc, _i: F.concat(
                acc,
                F.array(
                    F.array_max(
                        F.transform(
                            F.sequence(
                                F.greatest(
                                    F.lit(0), F.size(acc) - F.lit(L)
                                ),
                                F.size(acc) - 1,
                            ),
                            lambda j: F.struct(
                                (
                                    F.element_at(acc, j + 1).getField("s")
                                    + lp_at(j, F.size(acc) - j)
                                ).alias("s"),
                                j.cast("int").alias("b"),
                            ),
                        )
                    )
                ),
            ),
        )
        scored = pcs.withColumn("__dp", dp)
        # backtrace: int-list acc [cur, len_1, len_2, ...] (prepend
        # lens walking back from n — LIST accumulator, never struct:
        # struct-acc recurrences alias in place in DuckDB)
        back = F.aggregate(
            F.sequence(F.lit(1), n),
            F.array(n.cast("int")),
            lambda acc, _i: F.when(
                F.element_at(acc, 1) > 0,
                F.concat(
                    F.array(
                        F.element_at(
                            F.col("__dp"), F.element_at(acc, 1) + 1
                        ).getField("b")
                    ),
                    F.array(
                        F.element_at(acc, 1)
                        - F.element_at(
                            F.col("__dp"), F.element_at(acc, 1) + 1
                        ).getField("b")
                    ),
                    F.slice(acc, 2, F.size(acc) - 1),
                ),
            ).otherwise(acc),
        )
        lens = F.slice(back, 2, F.size(back) - 1)
        offsets = F.transform(
            F.sequence(F.lit(1), F.size(lens)),
            lambda k: F.aggregate(
                F.slice(lens, 1, k - 1),
                F.lit(0),
                lambda a, x: a + x,
            ),
        )
        seg = F.zip_with(
            offsets,
            lens,
            lambda off, ln: F.col("w").substr(off + 1, ln),
        )
        return scored.withColumn("__lens", lens).select(
            "w",
            "f",
            F.size("__lens").cast("int").alias("n_pieces"),
            F.array_join(seg, "|").alias("seg_str"),
            F.element_at("__dp", F.length("w") + 1)
            .getField("s")
            .alias("best_fp"),
        )

    out = viterbi(lm)
    alphabet = (
        subs.filter(F.col("len") == 1)
        .select("piece")
        .distinct()
    )
    for _ in range(em_rounds):
        # hard-EM M-step: recount pieces from the Viterbi
        # segmentations (frequency-weighted), renormalize, re-segment.
        # Characters never leave the vocabulary (Kudo's invariant):
        # unused alphabet pieces keep count 1 so every word stays
        # segmentable.
        used = (
            out.select(
                "f", F.explode(F.split("seg_str", r"\|")).alias("piece")
            )
            .groupBy("piece")
            .agg(F.sum("f").cast("bigint").alias("c"))
        )
        counts = (
            used.join(alphabet, "piece", "full_outer")
            .select(
                "piece",
                F.coalesce(F.col("c"), F.lit(1).cast("bigint")).alias("c"),
            )
        )
        out = viterbi(lm_from(counts))
    return out


def segment_words(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge list to the corpus vocabulary: returns
    (w, seg) — each distinct word's BPE segmentation. Inference-side
    twin of :func:`learn_bpe_merges`; same folds, vocab-sized."""
    words = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
    )
    out = words.withColumn("__seg", _char_segmentation(F.col("w")))
    for left, right in merges:
        out = out.withColumn("__seg", apply_merge(F.col("__seg"), left, right))
    return out.select("w", F.col("__seg").alias("seg"))
