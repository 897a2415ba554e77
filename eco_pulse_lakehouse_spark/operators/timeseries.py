"""Time-series regularization — gap-fill and forward-fill.

The reference's gold layer aggregates per (location, day) but simply
omits silent days (/root/reference/src/processing/gold_batch_job.py:
the GROUP BY produces rows only where readings exist); any dashboard
or model-feature consumer then sees a ragged series. These operators
produce a REGULAR per-key grid and carry observations forward — the
standard feature-store densification pass.

Shape at scale:

  per-key bounds  — one aggregation (min/max bucket per key)
  grid            — sequence() + explode: generated map-side from the
                    one-row-per-key bounds table, never shuffled wide
  observations    — pre-aggregated per (key, bucket), then an
                    equi-join onto the grid on (key, bucket)
  forward fill    — last(value, ignorenulls) over an UNBOUNDED
                    PRECEDING window per key: ONE shuffle on the key,
                    one sort per key — no iterative self-joins

Grid cardinality is keys × buckets regardless of raw row count, so
at 100 TB the dense grid is usually SMALLER than the input; the only
wide shuffle is the per-(key, bucket) pre-aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.session import pin


def gap_fill_daily(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_agg: Column,
    fill_col: str = "filled_value",
) -> DataFrame:
    """Dense per-(key, day) series over each key's [min_day, max_day]
    span, with missing days carried forward from the last observed
    day (NULL before the first observation — nothing to carry).

    ``value_agg`` is the per-(key, day) aggregate to densify (pass a
    decimal-accumulated sum for cross-engine exactness). Adds
    ``observed`` (was there any raw row that day) alongside the
    forward-filled value.
    """
    day = F.date_trunc("day", F.col(ts_col))
    per_day = (
        events.groupBy(F.col(key_col), day.alias("day"))
        .agg(value_agg.alias("__v"))
    )
    bounds = per_day.groupBy(key_col).agg(
        F.min("day").alias("__lo"), F.max("day").alias("__hi")
    )
    grid = bounds.select(
        key_col,
        F.explode(
            F.sequence("__lo", "__hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = grid.join(per_day, [key_col, "day"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key_col,
        "day",
        F.col("__v").isNotNull().alias("observed"),
        F.last("__v", ignorenulls=True).over(w).alias(fill_col),
    )


# SAX breakpoints for a 4-symbol alphabet: N(0,1) quartile boundaries.
SAX_BREAKPOINTS = (-0.6745, 0.0, 0.6745)


def sax_words(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
    window_len: int = 16,
    stride: int = 8,
    paa_segments: int = 4,
    with_zvec: bool = False,
) -> DataFrame:
    """SAX — Symbolic Aggregate approXimation (Lin, Keogh et al.,
    DMKD 2003): each sliding window of a per-key series is
    z-normalized, averaged into ``paa_segments`` PAA means, and each
    mean is discretized against fixed N(0,1) breakpoints into a
    letter. Windows with the same word are similarity CANDIDATES —
    the time-series analogue of an LSH bucket, so motif discovery /
    similarity search becomes an equi-join on the word (then exact
    refine), never an all-pairs scan. Returns
    (key, win_start, sax_word); win_start is the 1-based offset in
    the key's (order_cols)-sorted series.

    Exactness: PAA means, window mean/variance are SEQUENTIAL double
    folds over the sorted window (bit-identical to DuckDB's list
    kernels — the engine's verified parity rule), sqrt is correctly
    rounded in IEEE 754 (unlike ln/exp), and symbol assignment
    compares ``paa_mean - mean`` against ``breakpoint * stddev`` —
    multiplication instead of division, so a zero-variance window
    needs no special case (every segment lands the first
    non-negative branch deterministically in both engines). The
    corpus entry w15_sax_words is therefore oracle-EXACT end to end.

    Scale: one shuffle groups each key's series into an array; all
    windowing/fold work is a row-local HOF projection afterwards.
    Per-key arrays bound memory — for very long series, pre-chunk by
    (key, coarse time bucket) with window_len-1 overlap rows (the
    t15 chunked-reassembly pattern) so no task ever holds an
    unbounded series.
    """
    sd = window_len // paa_segments
    ordered = F.array_sort(
        F.collect_list(F.struct(*order_cols, value_col))
    )
    series = events.groupBy(key_col).agg(
        F.transform(ordered, lambda r: r.getField(value_col).cast("double"))
        .alias("__v")
    )

    n_win = F.floor(
        (F.size("__v") - F.lit(window_len)) / F.lit(stride)
    ).cast("int") + 1
    starts = F.when(
        F.size("__v") >= window_len,
        F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda i: (i * stride + 1).cast("int"),
        ),
    ).otherwise(F.array().cast("array<int>"))

    def fold_sum(arr):
        return F.aggregate(
            arr, F.lit(0.0), lambda acc, x: acc + x
        )

    # Stage the per-window stats as COLUMNS across separate projections
    # (explode windows first, then mu, then sigma, then word/zvec).
    # Interpreted HOF lambdas re-evaluate every embedded subtree, so a
    # single-expression form recomputes the mu fold inside each of the
    # 16 variance/z elements (~16x the work per window — measured 21 s
    # vs 4 s at sf0.1 for the motif entry). Staged aliases are referenced
    # many times by non-cheap expressions, which CollapseProject leaves
    # alone, so mu/sigma evaluate once per window row. Same FP ops on
    # the same operands — bit-identical results, and the oracle parity
    # is unchanged.
    wins = (
        series.select(
            key_col,
            F.explode(
                F.transform(
                    starts,
                    lambda s: F.struct(
                        s.alias("win_start"),
                        F.slice(F.col("__v"), s, window_len).alias("win"),
                    ),
                )
            ).alias("w"),
        )
        .select(
            key_col,
            F.col("w.win_start").alias("win_start"),
            F.col("w.win").alias("__win"),
        )
        .withColumn(
            "__mu", fold_sum(F.col("__win")) / F.lit(float(window_len))
        )
        .withColumn(
            "__sig",
            F.sqrt(
                F.aggregate(
                    F.col("__win"),
                    F.lit(0.0),
                    lambda acc, x: acc
                    + (x - F.col("__mu")) * (x - F.col("__mu")),
                )
                / F.lit(float(window_len))
            ),
        )
    )
    letters = F.transform(
        F.sequence(F.lit(0), F.lit(paa_segments - 1)),
        lambda g: _sax_letter(
            fold_sum(F.slice(F.col("__win"), g * sd + 1, sd))
            / F.lit(float(sd))
            - F.col("__mu"),
            F.col("__sig"),
        ),
    )
    out = wins.withColumn("sax_word", F.array_join(letters, ""))
    if with_zvec:
        zvec = F.when(
            F.col("__sig") > 0,
            F.transform(
                F.col("__win"),
                lambda x: (x - F.col("__mu")) / F.col("__sig"),
            ),
        ).otherwise(
            F.transform(F.col("__win"), lambda x: F.lit(0.0))
        )
        out = out.withColumn("zvec", zvec)
    keep = [key_col, "win_start", "sax_word"] + (
        ["zvec"] if with_zvec else []
    )
    return out.select(*keep)


def sax_motif_pairs(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
    window_len: int = 16,
    stride: int = 8,
    paa_segments: int = 4,
    max_dist: float = 3.0,
    round_dist: int | None = 6,
    max_bucket_windows: int | None = None,
    prefilter_coords: tuple[int, ...] | None = "auto",
) -> DataFrame:
    """Motif/similarity search composed the two-tier way: SAX words
    bucket the windows (equi-join on the word — candidates only ever
    meet inside a bucket), then an exact z-normalized Euclidean
    distance refines. The time-series twin of minhash-LSH + Jaccard
    refine; never an all-pairs scan. Pairs are canonical
    ((key_a, start_a) < (key_b, start_b) lexicographically) and
    distances round to 6dp (each z value is two correctly-rounded
    IEEE ops, but the refine SUM is a sequential fold — rounding
    absorbs nothing here since both engines fold identically; the
    rounding is for display stability).

    Skew guard (``max_bucket_windows``): a degenerate hot word —
    e.g. every flat/constant series symbolizes to the same word —
    makes one bucket quadratic, and AQE's skew split rebalances the
    shuffle but cannot shrink the PAIR COUNT (round-2 verdict).
    With a cap, each word keeps only its first ``max_bucket_windows``
    windows under the deterministic (key, win_start) order — chosen
    via the distributed global rank (operators/rank.py), never a
    per-word single-task sort — bounding any word's pairs at
    cap·(cap-1)/2 while words under the cap are EXACT and unchanged.
    The cap is opt-in (default None = exact everywhere, the w16
    oracle contract); capping is never silent — pair it with
    ``sax_bucket_overflow`` to surface what was dropped
    (w19_sax_motif_capped replays cap semantics in its oracle).
    """
    sax = sax_words(
        events, key_col, order_cols, value_col,
        window_len, stride, paa_segments, with_zvec=True,
    )
    if max_bucket_windows is not None:
        sax = _cap_hot_words(sax, key_col, max_bucket_windows)
    # Pin the shared window/zvec build before the self-join: both
    # join sides consume it, and unpinned each re-ran the whole
    # collect_list -> explode -> z-normalize pipeline (the before
    # plan's duplicated subtrees 1-8 / 9-16,
    # plans/r13/w16_sax_motif_pairs_before.txt).
    sax = pin(sax)
    a = sax.select(
        F.col(key_col).alias("key_a"),
        F.col("win_start").alias("start_a"),
        F.col("sax_word").alias("sax_word"),
        F.col("zvec").alias("__za"),
    )
    b = sax.select(
        F.col(key_col).alias("key_b"),
        F.col("win_start").alias("start_b"),
        F.col("sax_word").alias("sax_word"),
        F.col("zvec").alias("__zb"),
    )
    # The zip_with+aggregate fold is the MEASURED winner for the
    # per-pair refine: an unrolled 16-term element_at chain — the
    # "stay in codegen" instinct — benches 8x SLOWER (31.8 s vs
    # 4.1 s at sf0.1 over pre-materialized zvec columns; the ~100-node
    # scalar tree is evaluated per candidate pair and loses to the
    # HOF's single array traversal). Keep the fold; it also matches
    # the oracle's list-kernel fold bit-for-bit.
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("__za"), F.col("__zb"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    if round_dist is not None:
        dist = F.round(dist, round_dist)
    cand = a.join(b, "sax_word").filter(
        (F.col("key_a") < F.col("key_b"))
        | (
            (F.col("key_a") == F.col("key_b"))
            & (F.col("start_a") < F.col("start_b"))
        )
    )
    if prefilter_coords == "auto":
        # all coordinates: the flat codegen sum-of-squares bound is
        # cheap enough that the strongest (full-window) form wins —
        # measured at sf0.1: 2.11 M candidates, 49 k survive the
        # exact refine; an 8-coordinate bound pruned 72 % (A/B
        # −12 %), the full-16 bound ~98 % (A/B −21 %)
        prefilter_coords = tuple(range(1, window_len + 1))
    if prefilter_coords:
        # LOSSLESS per-coordinate prefilter (guide §3: shrink the
        # join input before the expensive per-pair work; VERDICT r13
        # item 1). For any coordinate subset S, real arithmetic gives
        #   dist = sqrt(Σ_i (za_i − zb_i)²) ≥ sqrt(Σ_{i∈S} (…)²),
        # so a pair with Σ_{i∈S}(za_i−zb_i)² > thr² has dist > thr.
        # With thr = max_dist + ½·10^−round_dist + 1e-9, such a pair
        # also fails the FINAL filter: round(dist, round_dist) ≥
        # dist − ½·10^−round_dist > max_dist. The ½-quantum term
        # covers the output rounding; the 1e-9 absolute slack covers
        # float-vs-real drift of the subset sum (≤ a few ulps,
        # ~1e-15 relative — six orders below the slack), so the
        # prefilter can only UNDER-prune: every surviving pair still
        # runs the exact fold, and the result set is unchanged
        # (old-vs-new proven row-identical at sf0.1 in-session; the
        # boundary unit test pins a pair AT dist == max_dist).
        # Unlike the unrolled-chain note above, the bound is a FILTER
        # (flat codegen arithmetic inside the join), so the
        # interpreted fold runs on survivors only.
        thr = max_dist + (
            0.5 * 10.0 ** (-round_dist) if round_dist is not None else 0.0
        ) + 1e-9
        sq = None
        for i in prefilter_coords:
            if i < 1 or i > window_len:
                raise ValueError(
                    f"prefilter coordinate {i} outside 1..{window_len}"
                )
            d = F.element_at("__za", i) - F.element_at("__zb", i)
            sq = d * d if sq is None else sq + d * d
        cand = cand.filter(sq <= F.lit(thr * thr))
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= max_dist)
        .select("key_a", "start_a", "key_b", "start_b", "sax_word", "dist")
    )


def _cap_hot_words(
    sax: DataFrame, key_col: str, cap: int
) -> DataFrame:
    """Keep each sax_word's first ``cap`` windows under the total
    (sax_word, key, win_start) order. Per-word rank is derived from
    the distributed GLOBAL row number minus a broadcast per-word
    offset (the word alphabet is tiny — ≤ 4^segments distinct words
    — so the offsets table always broadcasts), which avoids the
    single-task-per-word sort a plain partitionBy(word) rank would
    cost on exactly the hot word we're guarding against."""
    from eco_pulse_lakehouse_spark.operators.rank import global_row_number

    ranked = global_row_number(
        sax,
        [
            F.col("sax_word").asc(),
            F.col(key_col).asc(),
            F.col("win_start").asc(),
        ],
        out_col="__gpos",
    )
    firsts = ranked.groupBy("sax_word").agg(
        F.min("__gpos").alias("__first")
    )
    return (
        ranked.join(F.broadcast(firsts), "sax_word")
        .filter(F.col("__gpos") - F.col("__first") < cap)
        .drop("__gpos", "__first")
    )


def sax_bucket_overflow(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
    window_len: int = 16,
    stride: int = 8,
    paa_segments: int = 4,
    max_bucket_windows: int = 10_000,
) -> DataFrame:
    """The no-silent-caps companion to ``sax_motif_pairs(...,
    max_bucket_windows=N)``: per overflowing word, how many windows
    the cap dropped and the pair count the full bucket would have
    cost. One tiny aggregation (≤ 4^segments rows); emit/log it next
    to any capped run so truncation is visible in the job's output,
    not buried in executor logs."""
    sax = sax_words(
        events, key_col, order_cols, value_col,
        window_len, stride, paa_segments,
    )
    n = F.col("n_windows")
    return (
        sax.groupBy("sax_word")
        .agg(F.count(F.lit(1)).alias("n_windows"))
        .filter(n > max_bucket_windows)
        .select(
            "sax_word",
            "n_windows",
            (n - max_bucket_windows).alias("n_dropped_windows"),
            (n * (n - 1) / 2).cast("bigint").alias("uncapped_pairs"),
        )
    )


def _sax_letter(dev: Column, sigma: Column) -> Column:
    """Letter for a PAA deviation from the window mean: compare
    ``dev`` against ``breakpoint * sigma`` (no division — exact for
    sigma = 0 too)."""
    b1, b2, b3 = SAX_BREAKPOINTS
    return (
        F.when(dev < F.lit(b1) * sigma, F.lit("a"))
        .when(dev < F.lit(b2) * sigma, F.lit("b"))
        .when(dev < F.lit(b3) * sigma, F.lit("c"))
        .otherwise(F.lit("d"))
    )


TREND_EPOCH_BASE = 1_704_067_200  # 2024-01-01 UTC, plan constant


def trend_slopes(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    value_scale: int = 1_000_000,
    round_out: int = 6,
) -> DataFrame:
    """Per-key OLS trend: slope and intercept of value over time,
    computed from the closed-form sufficient statistics

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    as ONE aggregation pass — the classic "per-key regression"
    pattern, with a determinism twist: Spark's regr_slope (and
    DuckDB's) accumulate doubles, so results drift with partitioning
    and never hash-match across engines. Here x is epoch seconds
    minus a plan-constant base (keeps x in BIGINT range), y is
    1e-6 fixed-point, and all four sums accumulate in DECIMAL(38,0)
    — the per-row products x·y and x² are formed from DECIMAL(18,0)
    operands (exact up to |x|,|y| < 10^18) so neither the product
    nor the running sum can wrap BIGINT silently (a value~1000 key
    would otherwise overflow Σxy within ~100 rows — round-2 ADVICE;
    Spark decimal overflow at least surfaces as NULL/error instead
    of wrapping). One double division at the end, rounded 6dp —
    order-independent, retry-stable, oracle-exact
    (corpus w17_trend_slope; DuckDB sums BIGINT into HUGEINT, so the
    decimal accumulation matches it everywhere BIGINT would wrap).

    Scale: a single partial-aggregated groupBy — the minimum
    possible shuffle for any per-key regression; decimal partials
    are 16 bytes/key instead of 8, nothing else changes.

    Keys with fewer than 2 distinct x values yield NULL slope
    (denominator 0) — surfaced, not dropped."""
    x = (
        F.unix_timestamp(F.col(ts_col)) - F.lit(TREND_EPOCH_BASE)
    ).cast("bigint")
    y = F.round(F.col(value_col) * value_scale, 0).cast("bigint")
    xd = x.cast("decimal(18,0)")
    yd = y.cast("decimal(18,0)")
    agg = events.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(x.cast("decimal(38,0)")).alias("__sx"),
        F.sum(y.cast("decimal(38,0)")).alias("__sy"),
        F.sum(xd * yd).alias("__sxy"),
        F.sum(xd * xd).alias("__sxx"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = dec("__n") * dec("__sxy") - dec("__sx") * dec("__sy")
    den = dec("__n") * dec("__sxx") - dec("__sx") * dec("__sx")
    slope_fp = F.when(
        den != 0, num.cast("double") / den.cast("double")
    )  # fixed-point y per second
    slope = slope_fp / F.lit(float(value_scale))
    slope_day = slope * F.lit(86400.0)  # per-day: 6dp rounding keeps signal
    mean_x = F.col("__sx").cast("double") / F.col("__n").cast("double")
    mean_y = (
        F.col("__sy").cast("double")
        / F.col("__n").cast("double")
        / F.lit(float(value_scale))
    )
    return agg.select(
        key_col,
        F.col("__n").alias("n"),
        F.round(slope_day, round_out).alias("slope_per_day"),
        F.round(mean_y - slope * mean_x, round_out).alias("intercept"),
    )


def dtw_motif_pairs(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
    window_len: int = 16,
    stride: int = 8,
    paa_segments: int = 4,
    band_radius: int = 1,
    max_dist: float = 2.0,
) -> DataFrame:
    """Elastic motif refine — banded Dynamic Time Warping over the
    SAX candidate buckets: where :func:`sax_motif_pairs` scores
    candidates with rigid (lock-step) Euclidean distance, DTW aligns
    the two windows along a monotone warping path, so motifs that
    drift in PHASE (a pattern executed slightly faster/slower) still
    match — the canonical elastic similarity for time series, with
    the Sakoe–Chiba band (``band_radius``) bounding the warp and the
    cost at O(W·r) per pair instead of O(W²).

    Candidate generation is unchanged (equi-join on the SAX word —
    never all-pairs); the DP runs on the ``paa_segments``-length PAA
    means of each z-normalized window (the standard PAA-DTW lower
    resolution: W=4 here makes the per-pair DP 16 cells, and the
    per-segment means are already staged by sax_words' zvec). The DP
    is a nested HOF fold — row i's cells fold left-to-right with
    row i−1 as the outer accumulator, cells outside the band pinned
    to +inf — entirely row-local, no extra shuffle beyond the bucket
    join. Distances are sqrt of summed squared costs along the
    optimal path.

    No SQL oracle: the DP accumulator is a LIST, and DuckDB's
    list_reduce folds without an initial value (accumulator must be
    element-typed), so the recurrence is not replayable in its SQL
    dialect — the corpus entry (w21_dtw_motif_pairs) is rows-only
    and the exact DP semantics are pinned in pytest against an
    independent pure-Python reference (bit-identical: both folds run
    the same IEEE adds/mins in the same order)."""
    sax = sax_words(
        events, key_col, order_cols, value_col,
        window_len, stride, paa_segments, with_zvec=True,
    )
    sd = window_len // paa_segments
    paa = F.transform(
        F.sequence(F.lit(0), F.lit(paa_segments - 1)),
        lambda m: F.aggregate(
            F.slice(F.col("zvec"), m * sd + 1, sd),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(sd)),
    )
    sax = sax.withColumn("__paa", paa)
    a = sax.select(
        F.col(key_col).alias("key_a"),
        F.col("win_start").alias("start_a"),
        "sax_word",
        F.col("__paa").alias("__pa"),
    )
    b = sax.select(
        F.col(key_col).alias("key_b"),
        F.col("win_start").alias("start_b"),
        "sax_word",
        F.col("__paa").alias("__pb"),
    )

    inf = F.lit(float("inf"))
    W = paa_segments

    # D[0] row: D[0][0] = 0, D[0][j>0] = inf  (arrays are 1-indexed
    # via element_at; row arrays have W+1 entries for j = 0..W).
    # The DP is NESTED FOLDS with lambda variables, not Python-level
    # unrolling: an unrolled form embeds the accumulator subtree ~3x
    # per cell and the previous row ~8x per row, an exponential
    # expression tree that OOMs the driver before a single row runs
    # (and the w16 refine benchmark shows giant scalar trees lose to
    # HOF folds at runtime anyway). Lambda-bound accumulators are
    # shared references — tree size O(W), evaluation O(W·r) per pair.
    row0 = F.array(F.lit(0.0), *[inf for _ in range(W)])

    def cell(prev, i):
        """Row i from row i-1: cell j = cost(i,j) + min(D[i-1][j],
        D[i-1][j-1], D[i][j-1]), banded to |i-j| <= band_radius."""
        def inner(acc, jj):
            d = F.element_at(F.col("__pa"), i.cast("int")) - F.element_at(
                F.col("__pb"), jj.cast("int")
            )
            best = F.least(
                F.element_at(prev, (jj + 1).cast("int")),  # D[i-1][j]
                F.element_at(prev, jj.cast("int")),        # D[i-1][j-1]
                F.element_at(acc, F.size(acc)),            # D[i][j-1]
            )
            return F.concat(
                acc,
                F.array(
                    F.when(F.abs(i - jj) > band_radius, inf).otherwise(
                        d * d + best
                    )
                ),
            )

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(W)), F.array(inf), inner
        )

    final_row = F.aggregate(F.sequence(F.lit(1), F.lit(W)), row0, cell)
    dist = F.sqrt(F.element_at(final_row, W + 1))

    return (
        a.join(b, "sax_word")
        .filter(
            (F.col("key_a") < F.col("key_b"))
            | (
                (F.col("key_a") == F.col("key_b"))
                & (F.col("start_a") < F.col("start_b"))
            )
        )
        .withColumn("dtw_dist", dist)
        .filter(F.col("dtw_dist") <= max_dist)
        .select(
            "key_a", "start_a", "key_b", "start_b", "sax_word", "dtw_dist"
        )
    )


def time_weighted_avg(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    value_scale: int = 10_000,
) -> DataFrame:
    """TIME-WEIGHTED average per (key, day) — the duty-cycle-correct
    mean for irregularly sampled sensors (a reading that held for an
    hour must weigh 60x one that held a minute; the reference's
    plain AVG treats them equally): each reading is weighted by its
    HOLD duration — until the next reading of the same key that day,
    the last reading holding until midnight.

    CARRY-IN (round-3 advisor): the previous day's LAST reading is
    carried across the boundary as a synthetic midnight reading, so
    a key-day whose first event arrives late is no longer biased
    toward its late readings — coverage runs midnight-to-midnight
    whenever a prior reading exists (one extra lag over the per-key
    partition). Remaining stated limit: a key-day with ZERO events
    while a reading is still holding stays absent from the output —
    materializing gap days needs an interval-by-day explode and is a
    caller policy, not done here.

    Exactness: durations are exact BIGINT MILLISECONDS (lead over
    the per-key day partition; day boundary in ms), values are
    1e-4 fixed-point BIGINTs, so every product v_fp·dur_ms stays
    under 2^53 for |value| ≤ ~1e4 — all-BIGINT arithmetic with no
    decimal widening anywhere (a DECIMAL(38,0)·BIGINT product
    silently widens to DOUBLE in DuckDB once precision would exceed
    38, which cost a measured 1-ulp oracle drift). The TWAP itself
    is ONE double division of exact integers — bit-identical
    cross-engine. ONE exchange total: a single per-key window
    supplies lead-ts (clamped to midnight — identical to a per-day
    lead), prev-value, and prev-day; the carry-in is then a
    CONDITIONAL TERM inside the aggregation (no synthetic-row union,
    which would break partitioning propagation and force a second
    shuffle), and the groupBy on (key, __day) reuses the window's
    per-key hash partitioning via subset clustering. n_events counts
    REAL readings only (the carry-in weighs but doesn't count). Day
    surfaces as an ISO string (engine DATE dtypes diverge in pandas
    — the a27 lesson)."""
    day = F.date_trunc("day", F.col(ts_col))
    v_fp = F.round(F.col(value_col) * value_scale, 0).cast("bigint")
    base = events.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(tiebreak_col),
        day.alias("__day"),
        v_fp.alias("__v_fp"),
    )
    w_key = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    ts_ms = F.unix_millis(F.col(ts_col))
    day_start_ms = F.unix_millis(F.col("__day"))
    day_end_ms = F.unix_millis(F.col("__day") + F.expr("INTERVAL 1 DAY"))
    # lead over the KEY window clamped to midnight == lead over the
    # (key, day) window with a midnight default, without a 2nd window
    dur = (
        F.least(F.coalesce(F.lead(ts_ms).over(w_key), day_end_ms),
                day_end_ms)
        - ts_ms
    )
    prev_v = F.lag("__v_fp").over(w_key)
    prev_day = F.lag("__day").over(w_key)
    # the first event of a (key, day) whose previous reading is from
    # an earlier day inherits it from midnight to its own timestamp
    carry = prev_day.isNotNull() & (prev_day < F.col("__day"))
    zero = F.lit(0).cast("bigint")
    # The carried duration counts even when the carried value is NULL
    # (the oracle's synthetic row adds its duration to SUM(dur) with a
    # NULL weight); the weighted term stays NULL then, and SUM skips
    # it — exactly the oracle's single-SUM NULL semantics.
    carry_dur = F.when(carry, ts_ms - day_start_ms).otherwise(zero)
    carry_wv = F.when(carry, prev_v * (ts_ms - day_start_ms)
                      ).otherwise(zero)
    return (
        base.select(
            F.col(key_col),
            F.col("__day"),
            dur.alias("__dur"),
            F.col("__v_fp"),
            carry_dur.alias("__cdur"),
            carry_wv.alias("__cwv"),
        )
        .groupBy(key_col, "__day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("__dur") + F.sum("__cdur"))
            .cast("bigint")
            .alias("total_dur_ms"),
            (
                # Single-SUM NULL semantics: SUM skips NULL products,
                # returning NULL only when EVERY product is NULL — so
                # coalesce each partial sum to 0 unless both are NULL.
                F.when(
                    F.sum(F.col("__v_fp") * F.col("__dur")).isNull()
                    & F.sum("__cwv").isNull(),
                    F.lit(None).cast("bigint"),
                )
                .otherwise(
                    F.coalesce(
                        F.sum(F.col("__v_fp") * F.col("__dur")), zero
                    )
                    + F.coalesce(F.sum("__cwv"), zero)
                )
                .cast("double")
                / (
                    (F.sum("__dur") + F.sum("__cdur")).cast("double")
                    * F.lit(float(value_scale))
                )
            ).alias("twap"),
        )
        .select(
            F.col(key_col),
            F.date_format(F.col("__day"), "yyyy-MM-dd").alias("day"),
            "n_events",
            "total_dur_ms",
            "twap",
        )
    )


def time_weighted_avg_daily(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    value_scale: int = 10_000,
) -> DataFrame:
    """FULL-COVERAGE daily TWAP — :func:`time_weighted_avg`'s stated
    remaining limit, closed: a key-day with ZERO events while a
    reading is still holding now appears in the output (n_events 0,
    twap = the held value, total_dur_ms a full day), via the
    interval-by-day explode that function's docstring defers to.

    Shape: one per-key lead gives each reading its hold interval
    [ts, next_ts) (the key's last reading holds to the midnight after
    it, matching time_weighted_avg); the interval EXPLODES into the
    integer day indexes it covers (sequence over ms-epoch div
    86400000 — pure BIGINT, no date functions, so the DuckDB oracle
    replays it with unnest(range(...))); each (reading, day) row
    contributes clamp-overlap milliseconds. On key-days that have
    events the result is IDENTICAL to time_weighted_avg (same
    carry-in, same midnight clamps — pinned in pytest); the explode
    factor is days-per-hold, bounded by the data horizon (a sensor
    silent for a year costs 365 rows — still linear in output size,
    which a gap-day report must produce anyway).

    n_events counts readings whose OWN timestamp falls on the day.
    All-integer (ms durations, 1e-4 fixed-point values), one double
    division — oracle-exact. Two shuffles: the per-key window, then
    the (key, day) groupBy (the explode breaks subset-clustering
    reuse here; at 100 TB both cluster on the key so AQE coalesces
    the second exchange cheaply)."""
    DAY_MS = 86_400_000
    day_ms = F.lit(DAY_MS).cast("bigint")
    w_key = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    ts_ms = F.unix_millis(F.col(ts_col))
    v_fp = F.round(F.col(value_col) * value_scale, 0).cast("bigint")

    def div_day(x):
        return F.call_function("div", x - F.pmod(x, day_ms), day_ms)

    base = events.select(
        F.col(key_col),
        ts_ms.alias("__ts_ms"),
        F.col(tiebreak_col),
        v_fp.alias("__v_fp"),
    )
    with_end = base.select(
        F.col(key_col),
        "__ts_ms",
        "__v_fp",
        F.coalesce(
            F.lead("__ts_ms").over(
                Window.partitionBy(key_col).orderBy(
                    F.col("__ts_ms").asc(), F.col(tiebreak_col).asc()
                )
            ),
            (div_day(F.col("__ts_ms")) + 1) * day_ms,
        ).alias("__end_ms"),
    )
    d0 = div_day(F.col("__ts_ms"))
    # end is EXCLUSIVE; greatest() guards the zero-duration case
    # (duplicate timestamps at exact midnight would otherwise make
    # sequence() run descending)
    d1 = F.greatest(d0, div_day(F.col("__end_ms") - 1))
    exploded = with_end.select(
        F.col(key_col),
        "__ts_ms",
        "__end_ms",
        "__v_fp",
        d0.alias("__d0"),
        F.explode(F.sequence(d0, d1)).alias("__di"),
    )
    lo = F.greatest(F.col("__ts_ms"), F.col("__di") * day_ms)
    hi = F.least(F.col("__end_ms"), (F.col("__di") + 1) * day_ms)
    dur = hi - lo
    own = F.when(F.col("__di") == F.col("__d0"), 1).otherwise(0)
    return (
        exploded.select(
            F.col(key_col),
            F.col("__di"),
            dur.alias("__dur"),
            F.col("__v_fp"),
            own.alias("__own"),
        )
        .groupBy(key_col, "__di")
        .agg(
            F.sum("__own").cast("bigint").alias("n_events"),
            F.sum("__dur").cast("bigint").alias("total_dur_ms"),
            (
                F.sum(F.col("__v_fp") * F.col("__dur")).cast("double")
                / (F.sum("__dur").cast("double") * F.lit(float(value_scale)))
            ).alias("twap"),
        )
        .select(
            F.col(key_col),
            F.date_format(
                F.timestamp_millis(F.col("__di") * day_ms), "yyyy-MM-dd"
            ).alias("day"),
            "n_events",
            "total_dur_ms",
            "twap",
        )
    )


def holt_linear(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Holt's linear (double exponential) smoothing per key — the
    level+trend forecaster one rung above w14's EWMA:

      l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
      b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}

    with alpha = beta = 1/2 FIXED: halving is exact binary scaling
    and every remaining op (add/sub) is a single correctly-rounded
    IEEE step on identical operands, so the whole recurrence is
    bit-exact cross-engine (the w14/w22 dyadic-coefficient
    discipline — a free alpha would not be). Initialization is the
    textbook (l_1, b_1) = (x_1, x_2 - x_1) with updates applied for
    t = 2..n; a single-reading key keeps level = x_1 and NULL trend
    (unknown slope) in BOTH engines (F.get / list-index-out-of-range
    both yield NULL — F.get, not element_at, which throws under
    ANSI).

    Shape: ONE groupBy exchange; the order-insensitive
    sort_array(collect_list(struct)) fold makes the sequential
    recurrence deterministic without a sort pass, and the
    accumulator is a lambda-bound STRUCT variable so the expression
    tree stays O(1) per step (the SCALE.md DTW lesson). Series
    length per key is bounded by the key's history — the same
    contract as every journey/recurrence operator here. Returns
    (key, n_events, level, trend, forecast_1 = level + trend)."""
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                ts_col, tiebreak_col,
                F.col(value_col).cast("double").alias("v"),
            )
        )
    )
    return (
        events.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            arr.alias("__arr"),
        )
        .select(
            key_col,
            "n_events",
            holt_fold(
                F.transform(F.col("__arr"), lambda s: s.getField("v"))
            ).alias("__hb"),
        )
        .select(
            key_col,
            "n_events",
            F.col("__hb.l").alias("level"),
            F.col("__hb.b").alias("trend"),
            (F.col("__hb.l") + F.col("__hb.b")).alias("forecast_1"),
        )
    )


def holt_fold(vals: Column) -> Column:
    """The w28 recurrence as a reusable Column fold over an ordered
    DOUBLE array: returns struct(l, b). Shared by :func:`holt_linear`
    and the MASE backtest (:func:`holt_mase_backtest`)."""
    init = F.struct(
        F.get(vals, 0).alias("l"),
        (F.get(vals, 1) - F.get(vals, 0)).alias("b"),
    )

    def step(acc, x):
        l_new = F.lit(0.5) * x + F.lit(0.5) * (
            acc.getField("l") + acc.getField("b")
        )
        return F.struct(
            l_new.alias("l"),
            (
                F.lit(0.5) * (l_new - acc.getField("l"))
                + F.lit(0.5) * acc.getField("b")
            ).alias("b"),
        )

    return F.aggregate(F.slice(vals, 2, F.size(vals) - 1), init, step)


def _seq_sum(arr: Column) -> Column:
    """Strictly LEFT-TO-RIGHT float sum over an array — the fixed
    evaluation order both engines reproduce (DuckDB:
    list_reduce(list_prepend(0.0, arr), +)); a SUM aggregate would
    be partial-aggregation-order-dependent."""
    return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)


def holt_mase_backtest(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    horizon: int = 4,
    min_train: int = 4,
) -> DataFrame:
    """Per-key FORECAST BACKTEST: hold out each key's last
    ``horizon`` readings, fit Holt (:func:`holt_fold`, alpha=beta=½)
    on the train prefix, forecast ŷ_j = l + j·b for j = 1..horizon,
    and score MASE (Hyndman & Koehler 2006) = model MAE / in-sample
    one-step naive MAE — the scale-free metric that makes forecast
    quality comparable across keys with wildly different value
    ranges (MASE < 1 beats the naive forecaster).

    Determinism: every float reduction is a strictly sequential
    left-to-right fold over the SORTED series (:func:`_seq_sum` —
    never a SUM aggregate, whose partial order floats), divisions
    are by exact integer counts, and the Holt fold is the w28
    bit-exact recurrence — the whole backtest replays in SQL.
    Keys need ``min_train + horizon`` readings (non-degenerate
    naive MAE needs >= 2 train points). ONE groupBy exchange; all
    folds are per-row array math. Returns (key, n_train, naive_mae,
    model_mae, mase; mase NULL when the naive MAE is exactly 0 —
    a constant train series)."""
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                ts_col, tiebreak_col,
                F.col(value_col).cast("double").alias("v"),
            )
        )
    )
    per_key = events.groupBy(key_col).agg(arr.alias("__arr"))
    vs = F.transform(F.col("__arr"), lambda s: s.getField("v"))
    n = F.size(vs)
    n_train = n - F.lit(horizon)
    # stage train/test/fold as COLUMNS: interpreted HOFs re-evaluate
    # embedded subtrees per element (SCALE.md, the w16 lesson), so
    # the Holt fold must not ride inside the error lambda
    staged = (
        per_key.filter(n >= F.lit(min_train + horizon))
        .select(
            F.col(key_col),
            n_train.cast("bigint").alias("__nt"),
            F.slice(vs, 1, n_train).alias("__train"),
            F.slice(vs, n_train + 1, horizon).alias("__test"),
        )
        .withColumn("__hb", holt_fold(F.col("__train")))
    )
    tn = F.size(F.col("__train"))
    diffs = F.zip_with(
        F.slice(F.col("__train"), 2, tn - 1),
        F.slice(F.col("__train"), 1, tn - 1),
        lambda a, b: F.abs(a - b),
    )
    naive_mae = _seq_sum(diffs) / (tn - 1).cast("double")
    errs = F.zip_with(
        F.col("__test"),
        F.sequence(F.lit(1), F.lit(horizon)),
        lambda y, j: F.abs(
            y
            - (
                F.col("__hb").getField("l")
                + j.cast("double") * F.col("__hb").getField("b")
            )
        ),
    )
    model_mae = _seq_sum(errs) / F.lit(float(horizon))
    return staged.select(
        F.col(key_col),
        F.col("__nt").alias("n_train"),
        naive_mae.alias("naive_mae"),
        model_mae.alias("model_mae"),
        F.when(
            naive_mae != F.lit(0.0), model_mae / naive_mae
        ).alias("mase"),
    )


def hw_seasonal_fold(vals: Column, season: int = 4) -> Column:
    """Holt-Winters ADDITIVE-seasonal recurrence as a Column fold
    over an ordered DOUBLE array of length >= 2*season — the w30
    rung above :func:`holt_fold` (level+trend+seasonal):

      l_t = alpha*(x_t - s_{t-m}) + (1-alpha)*(l_{t-1} + b_{t-1})
      b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}
      s_t = gamma*(x_t - l_{t-1} - b_{t-1}) + (1-gamma)*s_{t-m}

    with alpha = beta = gamma = 1/2 FIXED (the w14/w22/w28 dyadic
    discipline: halving is exact binary scaling, every other op is
    one correctly-rounded IEEE step on identical operands, so the
    recurrence is bit-exact cross-engine). Textbook two-season
    initialization consuming x_1..x_{2m}:

      l_m = seqsum(x_1..x_m)/m
      b_m = (seqsum(x_{m+1}..x_{2m}) - seqsum(x_1..x_m))/m^2
      s_j = x_j - l_m          (j = 1..m)

    (seqsum = strictly left-to-right :func:`_seq_sum`; the two
    divisions are single correctly-rounded IEEE ops, so init is
    bit-exact too), then updates for t = m+1-aligned positions
    2m+1..n — i.e. x_{m+1}..x_{2m} are charged to initialization,
    matching the classical Hyndman formulation where the first two
    seasons seed the state.

    ACCUMULATOR SHAPE: one flat array<double> [l, b, s_head..s_tail]
    of fixed length season+2, where index 2 (0-based) is always
    s_{t-m} — the seasonal value the NEXT reading consumes; each
    step rotates the buffer. A flat DOUBLE list (not a struct) keeps
    the Spark accumulator structurally identical to the DuckDB
    oracle's LIST accumulator (struct accumulators mutate in place
    under DuckDB list_reduce — the w28 lesson). The lambda binds the
    accumulator as a variable so the expression tree stays O(1) per
    step (the SCALE.md DTW lesson). Returns the final state array.
    """
    m = season
    first = F.slice(vals, 1, m)
    second = F.slice(vals, m + 1, m)
    l0 = _seq_sum(first) / F.lit(float(m))
    b0 = (_seq_sum(second) - _seq_sum(first)) / F.lit(float(m * m))
    init = F.concat(
        F.array(l0, b0), F.transform(first, lambda x: x - l0)
    )
    rest = F.slice(vals, 2 * m + 1, F.size(vals) - 2 * m)

    def step(acc, x):
        l = F.get(acc, 0)
        b = F.get(acc, 1)
        s_old = F.get(acc, 2)
        l_new = F.lit(0.5) * (x - s_old) + F.lit(0.5) * (l + b)
        b_new = F.lit(0.5) * (l_new - l) + F.lit(0.5) * b
        s_new = F.lit(0.5) * (x - l - b) + F.lit(0.5) * s_old
        return F.concat(
            F.array(l_new, b_new),
            F.slice(acc, 4, m - 1),
            F.array(s_new),
        )

    return F.aggregate(rest, init, step)


def holt_winters_seasonal(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    season: int = 4,
) -> DataFrame:
    """W30 — per-key Holt-Winters additive-seasonal smoothing
    (:func:`hw_seasonal_fold`, alpha=beta=gamma=1/2, season=m).
    Keys need >= 2m readings (two full seasons seed level, trend and
    the seasonal buffer); shorter keys are filtered out — w28's
    non-seasonal Holt is the right tool for those. ONE groupBy
    exchange; order-insensitive sort_array(collect_list(struct))
    makes the sequential recurrence deterministic without a sort
    pass. Returns (key, n_events, level, trend, season_next,
    forecast_1) where season_next = s_{n+1-m} (the buffer head after
    the fold — exactly the seasonal index the next reading consumes)
    and forecast_1 = level + trend + season_next."""
    m = season
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                ts_col, tiebreak_col,
                F.col(value_col).cast("double").alias("v"),
            )
        )
    )
    per_key = (
        events.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            arr.alias("__arr"),
        )
        .filter(F.col("n_events") >= F.lit(2 * m))
        .select(
            key_col,
            "n_events",
            hw_seasonal_fold(
                F.transform(F.col("__arr"), lambda s: s.getField("v")),
                m,
            ).alias("__st"),
        )
    )
    return per_key.select(
        key_col,
        "n_events",
        F.get("__st", 0).alias("level"),
        F.get("__st", 1).alias("trend"),
        F.get("__st", 2).alias("season_next"),
        (F.get("__st", 0) + F.get("__st", 1) + F.get("__st", 2)).alias(
            "forecast_1"
        ),
    )


def hw_mase_backtest(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    season: int = 4,
    horizon: int = 4,
) -> DataFrame:
    """W31 — SEASONAL forecast backtest: hold out each key's last
    ``horizon`` readings, fit Holt-Winters (:func:`hw_seasonal_fold`)
    on the train prefix, forecast

      y_hat_{n+j} = l + j*b + s_{n+j-m}   (the seasonal buffer entry
                                           at 0-based index
                                           2 + (j-1) mod m)

    and score the SEASONAL MASE (Hyndman & Koehler 2006): model MAE
    over the horizon divided by the in-sample seasonal-naive MAE
    (mean |x_t - x_{t-m}| over the train prefix) — the scale-free
    skill score against the forecaster that just repeats last
    season. Train needs >= 2m + m readings (two seasons to seed +
    at least one seasonal-naive difference-window). All float
    reductions are strictly sequential folds (:func:`_seq_sum`),
    divisions by exact integers — bit-exact cross-engine, same as
    w29. Returns (key, n_train, snaive_mae, model_mae, mase; mase
    NULL when the seasonal-naive MAE is exactly 0)."""
    m = season
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                ts_col, tiebreak_col,
                F.col(value_col).cast("double").alias("v"),
            )
        )
    )
    per_key = events.groupBy(key_col).agg(arr.alias("__arr"))
    vs = F.transform(F.col("__arr"), lambda s: s.getField("v"))
    n = F.size(vs)
    n_train = n - F.lit(horizon)
    staged = (
        per_key.filter(n >= F.lit(3 * m + horizon))
        .select(
            F.col(key_col),
            n_train.cast("bigint").alias("__nt"),
            F.slice(vs, 1, n_train).alias("__train"),
            F.slice(vs, n_train + 1, horizon).alias("__test"),
        )
        .withColumn("__st", hw_seasonal_fold(F.col("__train"), m))
    )
    tn = F.size(F.col("__train"))
    sdiffs = F.zip_with(
        F.slice(F.col("__train"), m + 1, tn - m),
        F.slice(F.col("__train"), 1, tn - m),
        lambda a, b: F.abs(a - b),
    )
    snaive_mae = _seq_sum(sdiffs) / (tn - m).cast("double")
    errs = F.zip_with(
        F.col("__test"),
        F.sequence(F.lit(1), F.lit(horizon)),
        lambda y, j: F.abs(
            y
            - (
                F.get(F.col("__st"), 0)
                + j.cast("double") * F.get(F.col("__st"), 1)
                + F.get(
                    F.col("__st"),
                    F.lit(2) + F.pmod(j - F.lit(1), F.lit(m)),
                )
            )
        ),
    )
    model_mae = _seq_sum(errs) / F.lit(float(horizon))
    return staged.select(
        F.col(key_col),
        F.col("__nt").alias("n_train"),
        snaive_mae.alias("snaive_mae"),
        model_mae.alias("model_mae"),
        F.when(
            snaive_mae != F.lit(0.0), model_mae / snaive_mae
        ).alias("mase"),
    )
