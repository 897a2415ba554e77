"""Streaming corpus — T-rows (SURVEY.md §2.9), hermetically.

Each entry stages its input table into a temp directory, streams it
back through a file source (the Kafka stand-in: same unbounded-append
semantics), drains the stream to completion and returns the
materialized result as a batch DataFrame — so the driver can
oracle-check STREAMING semantics against plain SQL.

Three seams carry the loop machinery, so each entry keeps only its
batch body and its serve-side read:

* ``sp.drain(stream, fn, checkpoint)`` (streaming/pipeline.py) runs
  a foreachBatch body under the one drain policy — sources read with
  ``max_files_per_trigger=1`` deliver one committed file per batch,
  in commit order — and ``sp.run_to_parquet`` / ``sp.run_to_memory``
  do the same for plain sinks;
* the epoch sink of streaming/pipeline.py: a body lands its per-batch
  partial with ``sp.write_epoch(df, root, batch_id)`` (overwrite of
  ``root/epoch=<id>``), the serve side reads the union back with
  ``sp.read_epochs(spark, root)``, and a carry-state fold reads its
  predecessor with ``sp.read_last_epoch(spark, root, schema,
  before=batch_id)``, so a replayed batch never reads its own
  partial. Reads use the schema in the partials' parquet footers;
* ``_scratch(tag)`` (corpus/_registry.py:scratch) names a fresh uuid
  stage/sink/checkpoint path under the process's scratch root, which
  is removed at exit, so replays stay honest (checkpoint reuse is
  pinned separately in tests/test_streaming.py).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Window
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.corpus import extended as _ext
from eco_pulse_lakehouse_spark.corpus import northstar as _ns
from eco_pulse_lakehouse_spark.corpus import relational as _rel
from eco_pulse_lakehouse_spark.corpus._registry import T, make_registry
from eco_pulse_lakehouse_spark.corpus._registry import scratch as _scratch
from eco_pulse_lakehouse_spark.session import local_frame
from eco_pulse_lakehouse_spark.streaming import pipeline as sp

QUERIES, ORACLES, q = make_registry()

# t12 drains once per process; re-invocations reuse the parquet output
_T12_CACHE: dict = {}

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


_STAGE_CACHE: dict[tuple, str] = {}

_DAY_MS = 86_400_000


# state schema of the connected-component label folds (t35, t53)
_LABELS = "id BIGINT, comp BIGINT"


def _div_day(x):
    """Integer ms-epoch day index (true integer div — the `/` form
    silently loses precision past 2^53)."""
    day = F.lit(_DAY_MS).cast("bigint")
    return F.call_function("div", x - F.pmod(x, day), day)


def _stage_ordered_day_feed(ev, base: str, n_slices: int = 4) -> str:
    """Stage a frame carrying a BIGINT ``ts_ms`` column as
    ``n_slices`` single-file commits over contiguous DAY ranges,
    written sequentially so a checkpointed file stream tails them in
    TIME ORDER (one commit per micro-batch with maxFilesPerTrigger=1;
    same-day rows never straddle a boundary, so equal timestamps stay
    within one commit — the ordering contract the carry-state folds
    in t30/t33 rely on). The distinct-day list is metadata-sized
    (bounded by the data horizon, not row count). Shared by every
    time-ordered-feed entry (round-5 review: t30 and t33 had pasted
    copies).

    Commit-order hardening (ADVICE r05): FileStreamSource orders by
    modification time with path order breaking ties, so (a) slice
    names are zero-padded (``cv-00``) so a lexicographic tiebreak
    never inverts write order past 10 slices, and (b) every file of
    slice ``i`` gets an explicit, strictly increasing mtime via
    ``os.utime`` — commit order no longer depends on filesystem
    timestamp granularity at all."""
    feed = os.path.join(base, "feed")
    days = sorted(
        r[0]
        for r in ev.select(_div_day(F.col("ts_ms")).alias("d"))
        .distinct()
        .collect()
    )
    cuts = [days[len(days) * i // n_slices] for i in range(1, n_slices)]
    lo_cut = [None] + cuts
    hi_cut = cuts + [None]
    mtime_base = 1_000_000_000  # fixed epoch; only relative order matters
    for i in range(n_slices):
        sl = ev.withColumn("__d", _div_day(F.col("ts_ms")))
        if lo_cut[i] is not None:
            sl = sl.filter(F.col("__d") >= lo_cut[i])
        if hi_cut[i] is not None:
            sl = sl.filter(F.col("__d") < hi_cut[i])
        slice_dir = os.path.join(feed, f"cv-{i:02d}")
        sl.drop("__d").coalesce(1).write.parquet(slice_dir)
        t = mtime_base + i
        for root, _dirs, files in os.walk(slice_dir):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        os.utime(slice_dir, (t, t))
    return feed


def _stage_events(spark, sf_dir: str, copies: int = 1, parts: int = 4) -> str:
    """Write events to a temp dir as ``parts`` files x ``copies``
    (copies > 1 injects exact replays, the Kafka-redelivery case).
    Deterministic input → cached per (sf_dir, copies, parts) within
    the process so repeated bench runs time the STREAM, not the
    staging write. Sinks/checkpoints stay uuid-fresh per run."""
    key = (sf_dir, copies, parts)
    cached = _STAGE_CACHE.get(key)
    if cached and os.path.exists(cached):
        return cached
    stage = _scratch("stream")
    ev = T(spark, sf_dir, "events").repartition(parts)
    ev.write.mode("overwrite").parquet(stage)
    for _ in range(copies - 1):
        ev.write.mode("append").parquet(stage)
    _STAGE_CACHE[key] = stage
    return stage


@q(
    "t6_stream_windowed_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def t6_stream_windowed_counts(spark, sf_dir):
    """T6 — tumbling 1-hour event-time windows over a stream; the
    memory-sink result must equal the batch GROUP BY (window start ==
    epoch-aligned date_trunc)."""
    stage = _stage_events(spark, sf_dir)
    stream = sp.read_file_stream(spark, stage, EVENTS_SCHEMA)
    agg = sp.windowed_counts(stream, "ts", "1 hour", ["event_type"])
    name = f"wc_{uuid.uuid4().hex[:8]}"
    out = sp.run_to_memory(agg, name, output_mode="complete")
    return out.select(
        F.col("win.start").alias("window_start"), "event_type", "n"
    )


@q(
    "t5_stream_dedup",
    "SELECT event_id, user_id, value FROM events",
)
def t5_stream_dedup(spark, sf_dir):
    """T4+T5 — watermark + keyed dropDuplicates over a stream carrying
    every event TWICE (simulated Kafka redelivery). Output must equal
    the batch table exactly once — the dedup the reference claims
    (README.MD:70) but never implements (SURVEY.md §4.3)."""
    stage = _stage_events(spark, sf_dir, copies=2)
    stream = sp.read_file_stream(spark, stage, EVENTS_SCHEMA)
    silver = sp.to_silver(
        stream, "ts", ["event_id"], watermark="10 minutes", with_processed_at=False
    )
    sink = _scratch("sink")
    # state partitions sized to the data (~12k dedup keys/partition at
    # sf0.1), NOT the batch shuffle default: 32 near-empty state
    # stores spend more per batch committing deltas than deduplicating
    # (2.5 s → 1.2 s drain, the round-2 t5 regression root cause)
    sp.run_to_parquet(silver, sink, _scratch("ck"), state_partitions=8)
    return spark.read.parquet(sink).select("event_id", "user_id", "value")


@q(
    "t10_stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def t10_stream_stream_join(spark, sf_dir):
    """T8+ — STREAM-STREAM inner join (beyond the reference's
    batch-snapshot join): purchases joined to clicks of the same user
    within the preceding hour. Both sides watermarked; the time-range
    condition bounds the join state Spark must retain — without it a
    stream-stream join is unbounded-state and rejected. Drained with
    availableNow and oracle-checked against the equivalent batch SQL.
    """
    stage = _stage_events(spark, sf_dir)
    left = (
        sp.read_file_stream(spark, stage, EVENTS_SCHEMA)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    right = (
        sp.read_file_stream(spark, stage, EVENTS_SCHEMA)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id", "purchase_value")
    sink = _scratch("sink")
    sp.run_to_parquet(joined, sink, _scratch("ck"))
    return spark.read.parquet(sink)


_SENTINEL_STAGE_CACHE: dict[str, str] = {}


def _stage_events_with_wm_sentinels(spark, sf_dir: str) -> str:
    """Stage events as ONE data file plus two trailing sentinel files
    (one purchase + one click row each, user_id = -1, event time a
    year past the data). With ``maxFilesPerTrigger=1`` the stream sees
    batches [data], [s1], [s2]: s1 advances both sides' watermarks
    past every data row, s2 triggers the state-eviction batch that
    emits the outer join's NULL rows (emission lags the watermark
    advance by one batch). Hermetic-drain trick only: a production
    stream advances its watermark with ordinary arriving data.
    """
    cached = _SENTINEL_STAGE_CACHE.get(sf_dir)
    if cached and os.path.exists(cached):
        return cached
    import datetime

    stage = _scratch("stream_wm")
    ev = T(spark, sf_dir, "events")
    ev.coalesce(1).write.mode("overwrite").parquet(stage)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    for i in range(2):
        sent_ts = max_ts + datetime.timedelta(days=365 + i)
        rows = [
            (-1 - 10 * i, sent_ts, -1, "purchase", 0.0, "{}"),
            (-2 - 10 * i, sent_ts, -1, "click", 0.0, "{}"),
        ]
        local_frame(spark, rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    _SENTINEL_STAGE_CACHE[sf_dir] = stage
    return stage


@q(
    "t11_stream_stream_left_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def t11_stream_stream_left_join(spark, sf_dir):
    """T8++ — LEFT-OUTER stream-stream join: unmatched purchases emit
    a NULL-extended row once the watermark proves no click can still
    arrive. Oracle-exact vs the batch LEFT JOIN, including the tail
    rows (flushed by the watermark sentinels, see
    :func:`_stage_events_with_wm_sentinels`).

    Pitfall pinned here: the sentinel-exclusion filter
    (``user_id >= 0``) must be applied AFTER reading the sink back —
    put on the streaming frame, Catalyst pushes it below the
    EventTimeWatermark node, the sentinel rows are pruned at the
    source, and the watermark never advances (the NULL rows for the
    last 2 h of purchases are silently never emitted).
    """
    stage = _stage_events_with_wm_sentinels(spark, sf_dir)
    src = sp.read_file_stream(
        spark, stage, EVENTS_SCHEMA, max_files_per_trigger=1
    )
    left = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    right = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    ).select("purchase_id", "click_id", "user_id", "purchase_value")
    sink = _scratch("sink")
    sp.run_to_parquet(joined, sink, _scratch("ck"))
    return spark.read.parquet(sink).filter(F.col("user_id") >= 0)


@q(
    "t9_session_window",
    """
    SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n
    FROM (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN ts - lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                 <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_new
        FROM events
      )
    )
    GROUP BY user_id, session_id
    """,
)
def t9_session_window(spark, sf_dir):
    """T6+ — built-in session_window (gap-merged event-time sessions):
    must agree with the lag/cumsum batch sessionization (w7) on
    session starts and sizes. Runs on the batch frame here; the same
    expression works under a stream with a watermark."""
    from eco_pulse_lakehouse_spark.streaming.stateful import session_windows

    ev = T(spark, sf_dir, "events")
    return session_windows(ev, "ts", ["user_id"], gap="30 minutes")


@q(
    "t8_stream_static_join",
    """
    SELECT e.event_id, e.user_id, e.value, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def t8_stream_static_join(spark, sf_dir):
    """T8 — stream-static join: each micro-batch joins against the
    static dim (broadcast: the dim re-reads per batch, no state).
    The reference joins two batch snapshots instead (gold_batch_job
    .py:28-29); this is the streaming-native form."""
    stage = _stage_events(spark, sf_dir)
    stream = sp.read_file_stream(spark, stage, EVENTS_SCHEMA)
    dim = T(spark, sf_dir, "customer")
    joined = (
        stream.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", "value", "c_name", "c_mktsegment")
    )
    sink = _scratch("sink")
    sp.run_to_parquet(joined, sink, _scratch("ck"))
    return spark.read.parquet(sink)


@q(
    "t3_stream_append_silver",
    """
    SELECT event_id, user_id, value,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events WHERE event_type = 'purchase'
    """,
)
def t3_stream_append_silver(spark, sf_dir):
    """T1-T3 — the bronze→silver shape end-to-end: stream in, JSON
    side-field parse (S2), filter, checkpointed append parquet sink
    (S3), snapshot read back (S4)."""
    stage = _stage_events(spark, sf_dir)
    stream = sp.read_file_stream(spark, stage, EVENTS_SCHEMA)
    silver = (
        stream.filter(F.col("event_type") == "purchase")
        .withColumn("data", F.from_json(F.col("props").cast("string"), "k BIGINT"))
        .select("event_id", "user_id", "value", F.col("data.k").alias("k"))
    )
    sink = _scratch("sink")
    sp.run_to_parquet(silver, sink, _scratch("ck"))
    return spark.read.parquet(sink)


@q(
    "t12_python_stream_source",
    """
    SELECT CAST(i // 250 AS INT) AS bucket,
           COUNT(*) AS n,
           SUM(CAST((i * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0)
             AS total_u
    FROM range(0, 750) t(i)
    GROUP BY CAST(i // 250 AS INT)
    """,
)
def t12_python_stream_source(spark, sf_dir):
    """T12 — Python streaming DataSource
    (sources/pydatasource.py:SyntheticStreamReader) drained through
    THREE separate availableNow runs sharing one checkpoint: each run
    commits exactly one micro-batch and stops, the next resumes from
    the stored offset — restart-resume exactly-once, across a
    Python-defined source. The batch aggregate over the three drained
    batches must equal the closed-form oracle over range(0, 750).
    (Three restarts prove resume-after-restart twice — the minimum
    that distinguishes 'resumes' from 'restarted once by luck' —
    while shaving one full stream start/stop cycle, the entry's
    dominant cost, off every correctness pass.) The drained output is
    process-cached: re-invocations (driver runs each entry for Spark
    AND compare sides) reuse the parquet instead of re-draining."""
    from eco_pulse_lakehouse_spark.sources import pydatasource

    out = _T12_CACHE.get("out")
    if not (out and os.path.exists(out)):
        pydatasource.register(spark)
        base = _scratch("t12")
        out, ck = os.path.join(base, "out"), os.path.join(base, "ck")
        stream = (
            spark.readStream.format("eco_synthetic")
            .option("rowsPerBatch", 250)
            .option("maxBatches", 3)
            .load()
        )
        for _ in range(3):
            sp.run_to_parquet(stream, out, checkpoint=ck)
        _T12_CACHE["out"] = out
    return (
        spark.read.parquet(out)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("u").alias("total_u"))
    )


@q(
    "t13_chained_windows",
    """
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    fine AS (
      SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS ws, COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    big AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ws) AS window_start,
             CAST(SUM(n) AS BIGINT) AS n
      FROM fine GROUP BY 1
    )
    SELECT window_start, n FROM big, mx
    WHERE window_start + INTERVAL 1 HOUR <= m - INTERVAL 10 MINUTE
    """,
)
def t13_chained_windows(spark, sf_dir):
    """T13 — two chained stateful aggregations in ONE streaming query
    (streaming/pipeline.py:chained_window_rollup): 10-minute tumbling
    counts re-windowed into hourly sums, append-mode emission. The
    multiple-stateful-operators surface: the watermark propagates
    through the first aggregation, and the second stage's state is
    one row per 10-minute window, not per event. Append mode only
    finalizes windows the watermark has passed, so the oracle keeps
    hour windows whose end <= max(ts) - the 10-minute delay."""
    stage = _stage_events(spark, sf_dir)
    stream = sp.read_file_stream(spark, stage, EVENTS_SCHEMA)
    rollup = sp.chained_window_rollup(
        stream, "ts", small="10 minutes", large="1 hour"
    )
    name = f"cw_{uuid.uuid4().hex[:8]}"
    out = sp.run_to_memory(rollup, name, output_mode="append")
    return out.select(F.col("w_large.start").alias("window_start"), "n")


@q(
    "t14_sliding_windows",
    """
    SELECT time_bucket(INTERVAL 30 MINUTE, ts)
             - k.k * INTERVAL 30 MINUTE AS window_start,
           event_type, COUNT(*) AS n
    FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
    GROUP BY 1, 2
    """,
)
def t14_sliding_windows(spark, sf_dir):
    """T14 — SLIDING event-time windows (1-hour window, 30-minute
    slide) over a stream: every event lands in exactly two
    overlapping windows. The oracle replays the assignment rule
    (window starts = 30-min bucket and the one before it). State and
    shuffle scale by window/slide — the docstring'd reason a 100 TB
    stream keeps the slide coarse."""
    stage = _stage_events(spark, sf_dir)
    stream = sp.read_file_stream(spark, stage, EVENTS_SCHEMA)
    agg = sp.windowed_counts(
        stream, "ts", "1 hour", ["event_type"], slide="30 minutes"
    )
    name = f"sw_{uuid.uuid4().hex[:8]}"
    out = sp.run_to_memory(agg, name, output_mode="complete")
    return out.select(
        F.col("win.start").alias("window_start"), "event_type", "n"
    )


@q(
    "t15_stream_reassembly",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           md5(text) AS payload_md5,
           CAST(length(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def t15_stream_reassembly(spark, sf_dir):
    """T15 — STREAMING chunked-page reassembly
    (streaming/stateful.py:reassemble_stream): multimodal payloads
    arrive as 64-byte pages scattered across micro-batches
    (maxFilesPerTrigger=2 over 8 shuffled files forces ≥4 batches,
    so nearly every doc's pages straddle a batch boundary); per-doc
    state accumulates pages and emits the payload exactly once when
    complete. Every reassembled payload must hash back to the
    original document text — the oracle never sees pages at all."""
    from eco_pulse_lakehouse_spark.operators.multimodal import (
        chunk_payloads,
        to_multimodal,
    )
    from eco_pulse_lakehouse_spark.streaming.stateful import (
        reassemble_stream,
    )

    key = (sf_dir, "t15_chunks")
    stage = _STAGE_CACHE.get(key)
    if not (stage and os.path.exists(stage)):
        docs = T(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("bigint"), "text"
        )
        chunks = chunk_payloads(to_multimodal(docs), page_bytes=64)
        stage = _scratch("chunks")
        # shuffle pages across files so a doc's pages land in
        # different micro-batches (repartition hash-scatters rows)
        chunks.repartition(8).write.mode("overwrite").parquet(stage)
        _STAGE_CACHE[key] = stage
    stream = sp.read_file_stream(
        spark,
        stage,
        "doc_id BIGINT, page_idx INT, page BINARY, n_pages INT",
        max_files_per_trigger=2,
    )
    out = reassemble_stream(stream)
    name = f"ra_{uuid.uuid4().hex[:8]}"
    res = sp.run_to_memory(out, name, output_mode="append")
    return res.select(
        "doc_id",
        F.md5("payload").alias("payload_md5"),
        F.length("payload").cast("bigint").alias("n_bytes"),
    )


@q(
    "t16_stream_fanout",
    """
    SELECT event_id, user_id, round(value, 6) AS value FROM events
    """,
)
def t16_stream_fanout(spark, sf_dir):
    """T16 — foreachBatch multi-sink fan-out
    (streaming/stateful.py:foreach_batch_fanout): every micro-batch
    lands in TWO sinks — detail rows and a per-batch metrics row —
    each under an epoch=<id> overwrite directory, so replays rewrite
    instead of duplicating (exactly-once by idempotent construction,
    with no cross-sink transaction available). The driver checks the
    DETAIL sink against the source table: fan-out must lose or
    duplicate nothing; metrics-sink consistency (Σn == |events|) is
    pinned in pytest."""
    from eco_pulse_lakehouse_spark.streaming.stateful import (
        foreach_batch_fanout,
    )

    stage = _stage_events(spark, sf_dir)
    stream = sp.read_file_stream(
        spark, stage, EVENTS_SCHEMA, max_files_per_trigger=2
    ).select("event_id", "user_id", "value")
    base = _scratch("fanout")
    foreach_batch_fanout(
        stream,
        f"{base}/detail",
        f"{base}/metrics",
        checkpoint=f"{base}/ckpt",
    )
    return sp.read_epochs(spark, f"{base}/detail").select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )


@q(
    "t17_stream_countmin",
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    hh AS (
      SELECT w, list_reduce(list_concat([CAST(0 AS BIGINT)],
               list_transform(range(1, len(w)+1),
                              i -> CAST(ascii(w[i]) AS BIGINT))),
               (h, c) -> (h * 131 + c) % 1000003) AS h
      FROM (SELECT DISTINCT w FROM tok)
    ),
    ds AS (SELECT CAST(d AS INT) AS d FROM range(4) t(d)),
    sketch AS (
      SELECT d,
             CAST((h * (2654435761 + d * 40503)) % 1000003 % 64 AS INT) AS bucket,
             count(*) AS c
      FROM (SELECT t.w, h FROM tok t JOIN hh USING (w)) CROSS JOIN ds
      GROUP BY 1, 2
    ),
    vocab AS (SELECT w, count(*) AS exact_count FROM tok GROUP BY w),
    probes AS (
      SELECT v.w, exact_count, ds.d,
             CAST((h * (2654435761 + ds.d * 40503)) % 1000003 % 64 AS INT)
               AS bucket
      FROM vocab v JOIN hh USING (w) CROSS JOIN ds
    )
    SELECT w, exact_count, CAST(min(coalesce(c, 0)) AS BIGINT) AS est_count
    FROM probes LEFT JOIN sketch USING (d, bucket)
    GROUP BY w, exact_count
    """,
)
def t17_stream_countmin(spark, sf_dir):
    """T17 — INCREMENTAL sketch maintenance under micro-batches:
    documents stream through the file source one file per trigger;
    each batch's Count-Min partial lands as an idempotent per-batch
    parquet overwrite (replay-safe — the foreachBatch epoch id keys
    the path), and the serving sketch is the cell-wise SUM of the
    partials. Sketch linearity (operators/sketches.py:cms_merge)
    makes streamed == one-pass EXACTLY, so this STREAMING entry
    carries the same hard oracle as batch a19_countmin — the
    100 TB ingest shape: per-batch sketches at landing time, any
    window served by a tiny merge, history never re-scanned."""
    from eco_pulse_lakehouse_spark.functions.text import tokens
    from eco_pulse_lakehouse_spark.operators import sketches as sk

    docs = T(spark, sf_dir, "documents")
    stage = _scratch("t17")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t17_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_partial(batch_df, batch_id: int) -> None:
        tok = batch_df.select(F.explode(tokens(F.col("text"))).alias("w"))
        sp.write_epoch(
            sk.cms_build(tok, "w", depth=4, width=64), sink, batch_id
        )

    sp.drain(stream, land_partial, ck)

    sketch = (
        sp.read_epochs(spark, sink)
        .groupBy("d", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    tok_all = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    vocab = tok_all.groupBy("w").agg(F.count(F.lit(1)).alias("exact_count"))
    return sk.cms_estimate(sketch, vocab, "w", depth=4, width=64)


@q("t18_stream_lsh_index", _ns.ORACLES["x2_minhash_lsh"])
def t18_stream_lsh_index(spark, sf_dir):
    """T18 — INCREMENTAL near-dup index maintenance: documents stream
    in one file per trigger; each micro-batch's minhash band rows
    (operators/dedup.py:minhash_bands) land as idempotent epoch-keyed
    parquet partials — the index grows at ingest time, no rebuild.
    Candidate pairs are then an equi-join over the ACCUMULATED index
    on (band, bh). Band rows depend only on document content
    (plan-constant hash coefficients), so the streamed index equals
    the batch-built one row-for-row and candidate pairs match
    minhash_lsh_pairs over the full corpus EXACTLY — the dedup-
    against-a-growing-corpus shape a 100 TB ingest pipeline needs
    (per-batch cost is O(batch), history never re-hashed).
    ORACLE-CONVERTED in round 5 (was rows-only): with the poly
    token hash the band rows are SQL-replayable, so this entry
    carries x2_minhash_lsh's oracle VERBATIM — streamed index ≡
    batch pairs ≡ DuckDB replay; the streamed ≡ batch pin in
    tests/test_streaming.py stays."""
    from eco_pulse_lakehouse_spark.operators.dedup import (
        minhash_bands,
        poly_token_hash,
    )

    docs = T(spark, sf_dir, "documents")
    stage = _scratch("t18")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t18_out")
    sink, ck = os.path.join(base, "index"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_bands(batch_df, batch_id: int) -> None:
        bands = minhash_bands(
            batch_df, "doc_id", "text", token_hash=poly_token_hash
        )
        sp.write_epoch(bands, sink, batch_id)

    sp.drain(stream, land_bands, ck)

    idx = sp.read_epochs(spark, sink)
    a = idx.select(F.col("doc_id").alias("id_a"), "band", "bh")
    b = idx.select(F.col("doc_id").alias("id_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


from eco_pulse_lakehouse_spark.corpus.northstar import (  # noqa: E402
    _QVEC,
)


@q(
    "t19_stream_ann_ingest",
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
def t19_stream_ann_ingest(spark, sf_dir):
    """T19 — STREAMING ANN ingest over the IVF-PQ lifecycle
    (similarity.py:ivfpq_codebooks/ivfpq_encode/ivfpq_query): index
    parameters bootstrap once (tiny tables, driver-persisted); then
    embeddings stream in one file per trigger and each micro-batch
    is ENCODED INDEPENDENTLY (map-only: list id + 8 residual-PQ code
    bytes) into epoch-keyed idempotent parquet. Queries serve from
    the accumulated store. Encoding is content-deterministic against
    fixed codebooks, so streamed-ingest == batch-build exactly and
    this STREAMING entry carries the identical hard oracle as
    x3_ivfpq_topk — the grows-forever embedding-store shape: ingest
    cost O(batch), history never re-encoded."""
    from eco_pulse_lakehouse_spark.operators.similarity import (
        ivfpq_codebooks,
        ivfpq_encode,
        ivfpq_query,
        quantize_embeddings,
    )

    e = T(spark, sf_dir, "embeddings")
    qz = quantize_embeddings(e, "embedding", "q_vec", n_levels=127)
    coarse_df, rcb_df = ivfpq_codebooks(qz, "vec_id", "q_vec")
    # persist the (tiny) index parameters driver-side so every batch
    # encodes against identical plan constants
    coarse = local_frame(spark, coarse_df.collect(), coarse_df.schema)
    rcb = local_frame(spark, rcb_df.collect(), rcb_df.schema)

    stage = _scratch("t19")
    e.repartition(4).write.mode("overwrite").parquet(stage)
    base = _scratch("t19_out")
    sink, ck = os.path.join(base, "enc"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, e.schema, max_files_per_trigger=1
    )

    def land_encoded(batch_df, batch_id: int) -> None:
        bq = quantize_embeddings(batch_df, "embedding", "q_vec", n_levels=127)
        sp.write_epoch(
            ivfpq_encode(bq, coarse, rcb, "vec_id", "q_vec"), sink, batch_id
        )

    sp.drain(stream, land_encoded, ck)

    enc = sp.read_epochs(spark, sink)
    qs_ = qz.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "q_vec"
    )
    return ivfpq_query(qs_, enc, coarse, rcb, "q_id", "q_vec")


@q(
    "t20_stream_versioned_gold",
    """
    SELECT user_id,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             AS total_value_fp,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def t20_stream_versioned_gold(spark, sf_dir):
    """T20 — streaming gold maintained as a VERSIONED table
    (sources/versioned.py): each micro-batch's per-user partials
    ACCUMULATE into the running totals and commit as a new version
    via the atomic manifest swap — crash mid-cycle loses nothing
    (last committed version intact), every historical gold state
    stays time-travelable, and replays are idempotent because the
    committed batch_id rides in the manifest (a re-delivered epoch
    is skipped, making the accumulate + commit EXACTLY-ONCE).
    Values accumulate as 1e-6 fixed-point BIGINTs — exact across any
    batch split — so the final gold equals the one-shot batch GROUP
    BY and this streaming maintenance loop carries a hard oracle."""
    from eco_pulse_lakehouse_spark.sources import versioned

    ev = T(spark, sf_dir, "events")
    stage = _stage_events(spark, sf_dir)

    base = _scratch("t20")
    gold, ck = os.path.join(base, "gold"), os.path.join(base, "ck")

    stream = sp.read_file_stream(spark, stage, EVENTS_SCHEMA)

    def accumulate(batch_df, batch_id: int) -> None:
        done = {
            v.get("meta", {}).get("batch_id")
            for v in versioned.versions(gold)
        }
        if batch_id in done:
            return
        agg = batch_df.groupBy("user_id").agg(
            F.sum(
                F.round(F.col("value") * 1000000, 0).cast("bigint")
            ).alias("total_value_fp"),
            F.count(F.lit(1)).alias("n_events"),
        )
        if versioned.versions(gold):
            cur = versioned.read_version(spark, gold)
            combined = (
                cur.select(
                    "user_id",
                    F.col("total_value_fp").alias("__ct"),
                    F.col("n_events").alias("__cn"),
                )
                .join(agg, "user_id", "full_outer")
                .select(
                    "user_id",
                    (
                        F.coalesce(F.col("__ct"), F.lit(0))
                        + F.coalesce(F.col("total_value_fp"), F.lit(0))
                    ).alias("total_value_fp"),
                    (
                        F.coalesce(F.col("__cn"), F.lit(0))
                        + F.coalesce(F.col("n_events"), F.lit(0))
                    ).alias("n_events"),
                )
            )
            # pin the plan before the new version write begins
            combined = combined.localCheckpoint(eager=True)
        else:
            combined = agg
        versioned.write_version(combined, gold, meta={"batch_id": batch_id})

    sp.drain(stream, accumulate, ck)
    return versioned.read_version(spark, gold)


@q(
    "t21_cdf_incremental_agg",
    """
    WITH head AS (
      SELECT event_type,
             CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value
      FROM events WHERE event_id % 3 != 0
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total
    FROM head GROUP BY event_type
    """,
)
def t21_cdf_incremental_agg(spark, sf_dir):
    """T21 — CDC consumer loop over the versioned layer's change
    feed (sources/versioned.py:table_changes +
    incremental_agg_via_changes): three committed versions mutate a
    deterministic events projection (inserts, deletes, then doubled
    values on every 7th id), and the consumer maintains per-type
    count + decimal-exact sum by folding each version's DIFF —
    O(churn) per commit, never a history rescan. Decimal addition is
    associative/commutative and deletes subtract exactly what
    inserts added, so after all folds the maintained state is
    bit-identical to aggregating the head snapshot directly — which
    is exactly what the oracle computes. Fully-deleted keys drop out
    via the maintained count, matching the direct aggregate."""
    from eco_pulse_lakehouse_spark.sources import versioned

    path = _scratch("t21", os.path.basename(sf_dir.rstrip("/")))
    base = T(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    if not versioned.versions(path):
        versioned.write_version(
            base.filter(F.col("event_id") % 2 == 0), path
        )
        versioned.write_version(
            base.filter(F.col("event_id") % 3 != 0), path
        )
        v2 = base.filter(F.col("event_id") % 3 != 0).select(
            "event_id",
            "event_type",
            F.when(
                F.col("event_id") % 7 == 0, F.col("value") * 2
            ).otherwise(F.col("value")).alias("value"),
        )
        versioned.write_version(v2, path)
    return versioned.incremental_agg_via_changes(
        spark, path, ["event_type"], "value"
    )


@q(
    "s20_versioned_history",
    """
    SELECT event_id, value, CAST(NULL AS BIGINT) AS user_id,
           CAST(0 AS INT) AS _version
    FROM events WHERE event_id % 53 = 0
    UNION ALL
    SELECT event_id, value, user_id, CAST(1 AS INT) AS _version
    FROM events WHERE event_id % 53 = 0
    """,
)
def s20_versioned_history(spark, sf_dir):
    """S20 — table HISTORY scan with additive schema evolution
    (sources/versioned.py:read_history): v0 commits (event_id,
    value), v1 adds a user_id column; the history read unions every
    snapshot tagged with its version, backfilling NULL where a
    column didn't exist yet (unionByName allowMissingColumns — the
    only evolution a snapshot layer expresses without rewrites).
    The oracle rebuilds the same union with an explicit NULL cast."""
    from eco_pulse_lakehouse_spark.sources import versioned

    path = _scratch("s20", os.path.basename(sf_dir.rstrip("/")))
    ev = T(spark, sf_dir, "events").filter(F.col("event_id") % 53 == 0)
    if not versioned.versions(path):
        versioned.write_version(ev.select("event_id", "value"), path)
        versioned.write_version(
            ev.select("event_id", "value", "user_id"), path
        )
    return versioned.read_history(spark, path)


@q(
    "t22_stream_cdf",
    """
    WITH base AS (SELECT event_id, event_type, value FROM events),
    v0 AS (SELECT * FROM base WHERE event_id % 2 = 0),
    v1 AS (SELECT * FROM base WHERE event_id % 3 != 0),
    v2 AS (SELECT event_id, event_type,
                  CASE WHEN event_id % 7 = 0 THEN value * 2
                       ELSE value END AS value
           FROM base WHERE event_id % 3 != 0),
    feed AS (
      SELECT CAST(0 AS INT) AS _commit_version,
             'insert' AS _change_type, * FROM v0
      UNION ALL
      SELECT CAST(1 AS INT), 'insert', *
      FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v0)
      UNION ALL
      SELECT CAST(1 AS INT), 'delete', *
      FROM (SELECT * FROM v0 EXCEPT ALL SELECT * FROM v1)
      UNION ALL
      SELECT CAST(2 AS INT), 'insert', *
      FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
      UNION ALL
      SELECT CAST(2 AS INT), 'delete', *
      FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
    )
    SELECT _commit_version, _change_type, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             AS total_fp
    FROM feed GROUP BY _commit_version, _change_type, event_type
    """,
)
def t22_stream_cdf(spark, sf_dir):
    """T22 — STREAMING consumer of the versioned layer's change feed
    (sources/versioned.py:materialize_changes + read_changes_stream):
    three commits mutate a deterministic events projection (the same
    insert/delete/update churn as t21); the feed materializes each
    commit's diff as a durable cv-N batch (idempotent, staging-swap
    crash-safe), and a checkpointed file stream tails it — cv-0 as
    the initial full-insert load, each later commit as its own
    micro-batch (maxFilesPerTrigger=1 forces the per-commit batch
    boundary). The drained stream is aggregated per (commit, change
    type, event type) with 1e-6 fixed-point value sums, and the
    oracle rebuilds the exact same feed from EXCEPT ALL multiset
    diffs — the streamed CDC surface carries the same hard oracle as
    the batch table_changes (s17) it is derived from."""
    from eco_pulse_lakehouse_spark.sources import versioned

    path = _scratch("t22", os.path.basename(sf_dir.rstrip("/")))
    base = T(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    if not versioned.versions(path):
        versioned.write_version(
            base.filter(F.col("event_id") % 2 == 0), path
        )
        versioned.write_version(
            base.filter(F.col("event_id") % 3 != 0), path
        )
        v2 = base.filter(F.col("event_id") % 3 != 0).select(
            "event_id",
            "event_type",
            F.when(
                F.col("event_id") % 7 == 0, F.col("value") * 2
            ).otherwise(F.col("value")).alias("value"),
        )
        versioned.write_version(v2, path)
    versioned.materialize_changes(spark, path)

    out = _scratch("t22_out")
    sink, ck = os.path.join(out, "sink"), os.path.join(out, "ck")
    stream = versioned.read_changes_stream(
        spark, path, maxFilesPerTrigger=1
    )
    sp.run_to_parquet(stream, sink, checkpoint=ck)
    drained = spark.read.parquet(sink)
    return drained.groupBy(
        "_commit_version", "_change_type", "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.round(F.col("value") * 1000000, 0).cast("bigint")
        ).alias("total_fp"),
    )


@q(
    "t23_stream_psi",
    """
    WITH b AS (
      SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS k1,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS k2
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(k1) AS BIGINT) AS n1,
                 CAST(SUM(k2) AS BIGINT) AS n2 FROM b),
    terms AS (
      SELECT n1, n2,
             CAST(round((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                         - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                        * round(ln(CAST(k1 * n2 AS DOUBLE)
                                   / CAST(k2 * n1 AS DOUBLE)), 6)
                        * 1000000000.0) AS BIGINT) AS term_fp
      FROM b CROSS JOIN t WHERE k1 > 0 AND k2 > 0
    )
    SELECT n1, n2, CAST(SUM(term_fp) AS BIGINT) AS psi_fp,
           CAST(SUM(term_fp) AS DOUBLE) / 1000000000.0 AS psi
    FROM terms GROUP BY n1, n2
    """,
)
def t23_stream_psi(spark, sf_dir):
    """T23 — STREAMING drift monitor: each micro-batch's per-bucket
    (side, count) partial lands as an idempotent epoch-keyed parquet
    overwrite; the serving PSI is computed from the cell-wise SUM of
    the partials (operators/anomaly.py:psi_from_bins). Bin counts
    are LINEAR — union + sum merges them exactly like the t17 CMS
    partials — so the streamed monitor reports the IDENTICAL PSI to
    the one-shot batch computation and this streaming entry carries
    q12's hard oracle verbatim. The production shape: drift partials
    accumulate at ingest, any monitoring window is a tiny merge,
    history is never re-scanned."""
    from eco_pulse_lakehouse_spark.operators.anomaly import psi_from_bins

    stage = _stage_events(spark, sf_dir)
    base = _scratch("t23_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, EVENTS_SCHEMA, max_files_per_trigger=1
    )

    def land_partial(batch_df, batch_id: int) -> None:
        bins = (
            batch_df.filter(F.col("value").isNotNull())
            .groupBy(
                F.floor(F.col("value") / F.lit(10.0))
                .cast("bigint")
                .alias("__bucket")
            )
            .agg(
                F.sum(
                    F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)
                ).alias("__k1"),
                F.sum(
                    F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)
                ).alias("__k2"),
            )
        )
        sp.write_epoch(bins, sink, batch_id)

    sp.drain(stream, land_partial, ck)

    merged = (
        sp.read_epochs(spark, sink)
        .groupBy("__bucket")
        .agg(
            F.sum("__k1").alias("__k1"),
            F.sum("__k2").alias("__k2"),
        )
    )
    return psi_from_bins(merged)


@q(
    "t24_stream_ks",
    """
    WITH v AS (
      SELECT value AS vv,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS k1,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS k2
      FROM events WHERE value IS NOT NULL GROUP BY value
    ),
    c AS (
      SELECT SUM(k1) OVER (ORDER BY vv) AS c1,
             SUM(k2) OVER (ORDER BY vv) AS c2
      FROM v
    ),
    t AS (SELECT CAST(SUM(k1) AS BIGINT) AS n1,
                 CAST(SUM(k2) AS BIGINT) AS n2 FROM v)
    SELECT n1, n2,
           CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num,
           CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS DOUBLE)
             / CAST(n1 * n2 AS DOUBLE) AS ks_stat
    FROM c CROSS JOIN t GROUP BY n1, n2
    """,
)
def t24_stream_ks(spark, sf_dir):
    """T24 — STREAMING KS drift monitor: each micro-batch's
    distinct-value (side, count) partial lands as an idempotent
    epoch-keyed parquet overwrite; the serving statistic comes from
    the cell-wise SUM of the partials
    (operators/anomaly.py:ks_from_value_counts). Value-count tables
    are LINEAR like t23's bins and t17's CMS cells, so the streamed
    monitor reports the IDENTICAL exact KS to the one-shot batch
    computation — q11's hard oracle verbatim. Together t23/t24 give
    the drift pair (binned PSI + full-CDF KS) the accumulate-at-
    ingest shape: any monitoring window is a tiny merge, history is
    never re-scanned."""
    from eco_pulse_lakehouse_spark.operators.anomaly import (
        ks_from_value_counts,
    )

    stage = _stage_events(spark, sf_dir)
    base = _scratch("t24_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, EVENTS_SCHEMA, max_files_per_trigger=1
    )

    def land_partial(batch_df, batch_id: int) -> None:
        v = (
            batch_df.filter(F.col("value").isNotNull())
            .groupBy(F.col("value").alias("__v"))
            .agg(
                F.sum(
                    F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)
                ).alias("__k1"),
                F.sum(
                    F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)
                ).alias("__k2"),
            )
        )
        sp.write_epoch(v, sink, batch_id)

    sp.drain(stream, land_partial, ck)

    merged = (
        sp.read_epochs(spark, sink)
        .groupBy("__v")
        .agg(
            F.sum("__k1").alias("__k1"),
            F.sum("__k2").alias("__k2"),
        )
    )
    return ks_from_value_counts(merged)


@q(
    "t25_stream_semdedup",
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) * CAST(127.0 AS DOUBLE)) AS INT)) AS qv FROM embeddings),
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
def t25_stream_semdedup(spark, sf_dir):
    """T25 — STREAMING SemDeDup at ingest
    (similarity.py:semdedup_assign/semdedup_drops): coarse centroids
    bootstrap once (seed codebooks, driver-persisted); embeddings
    then stream in one file per trigger, each micro-batch is scored
    map-only (cluster + centroid dot), its drop decisions run
    against the batch PLUS the accumulated store, and both the
    scored rows and the drops land as epoch-keyed idempotent
    parquet. Pair verdicts are LOCAL and each unordered pair forms
    when its later member arrives, so the accumulated drop set —
    and therefore the survivor set — is IDENTICAL to the one-shot
    batch run: this streaming entry carries x3_semdedup's hard
    oracle verbatim. The grows-forever curation shape: new data is
    semantically deduped against all history at O(batch·cluster)
    per batch, history never re-paired."""
    from eco_pulse_lakehouse_spark.operators.similarity import (
        pq_codebooks,
        quantize_embeddings,
        semdedup_assign,
        semdedup_drops,
    )

    e = T(spark, sf_dir, "embeddings")
    qz = quantize_embeddings(e, "embedding", "q_vec", n_levels=127)
    coarse_df = pq_codebooks(
        qz, "vec_id", "q_vec", m_segments=1, k_codes=16, dim=64
    )
    coarse = local_frame(spark, coarse_df.collect(), coarse_df.schema)

    stage = _scratch("t25")
    e.repartition(4).write.mode("overwrite").parquet(stage)
    base = _scratch("t25_out")
    store = os.path.join(base, "scored")
    dsink = os.path.join(base, "drops")
    ck = os.path.join(base, "ck")

    def ingest(batch_df, batch_id: int) -> None:
        bq = quantize_embeddings(batch_df, "embedding", "q_vec", 127)
        scored_b = semdedup_assign(
            bq, coarse, "vec_id", "q_vec", 16, 64
        ).select("vec_id", "q_vec", "cluster_id", "__cdot")
        scored_b = scored_b.localCheckpoint(eager=True)
        all_scored = scored_b
        if batch_id:  # batches 0..batch_id-1 each landed a partial
            all_scored = all_scored.unionByName(
                sp.read_epochs(spark, store, before=batch_id)
            )
        drops_b = semdedup_drops(
            scored_b, all_scored, "vec_id", "q_vec", min_dot=6400
        )
        sp.write_epoch(drops_b, dsink, batch_id)
        sp.write_epoch(scored_b, store, batch_id)

    stream = sp.read_file_stream(
        spark, stage, e.schema, max_files_per_trigger=1
    )
    sp.drain(stream, ingest, ck)

    all_scored = sp.read_epochs(spark, store)
    all_drops = sp.read_epochs(spark, dsink).distinct()
    return all_scored.join(all_drops, "vec_id", "left_anti").select(
        "vec_id", "cluster_id"
    )


@q(
    "t26_stream_heavy_hitters",
    """
    WITH d AS (SELECT string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT t[i] || ' ' || t[i + 1] AS bigram
      FROM d, unnest(range(1, len(t))) AS u(i)
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram HAVING COUNT(*) >= 40
    """,
)
def t26_stream_heavy_hitters(spark, sf_dir):
    """T26 — STREAMING heavy hitters: each micro-batch's Count-Min
    partial lands as an idempotent epoch-keyed parquet (O(depth x
    width) cells per batch — the vocabulary never shuffles at
    ingest); at serve time the partials MERGE cell-wise (sketch
    linearity, t17) into a sketch over ALL history, the candidate
    prefilter + exact recount run once over the landed bronze
    (operators/sketches.py:cms_literal_map/cms_rowwise_estimate),
    and the answer is IDENTICAL to the one-shot batch — a29's hard
    oracle verbatim. The n-gram-mining ingest shape: per-batch cost
    is a constant-size sketch write; the expensive exact pass runs
    only when a serve actually asks, and only over |candidates|
    distinct keys."""
    from eco_pulse_lakehouse_spark.operators import sketches as sk

    docs = T(spark, sf_dir, "documents")
    stage = _scratch("t26")
    docs.repartition(4).write.mode("overwrite").parquet(stage)
    base = _scratch("t26_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    bigrams = lambda df: df.select(  # noqa: E731
        F.explode(
            F.expr(
                "transform(slice(split(text, ' '), 1,"
                " size(split(text, ' ')) - 1),"
                " (x, i) -> concat(x, ' ', split(text, ' ')[i + 1]))"
            )
        ).alias("bigram")
    )

    def land_partial(batch_df, batch_id: int) -> None:
        sketch = sk.cms_build(
            bigrams(batch_df), "bigram", depth=4, width=1 << 12
        )
        sp.write_epoch(sketch, sink, batch_id)

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )
    sp.drain(stream, land_partial, ck)

    merged = (
        sp.read_epochs(spark, sink)
        .groupBy("d", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    bg_all = bigrams(spark.read.parquet(stage))
    est = sk.cms_rowwise_estimate(F.col("bigram"), 4, 1 << 12)
    candidates = (
        bg_all.join(F.broadcast(sk.cms_literal_map(merged)))
        .filter(est >= F.lit(40))
        .drop("__cms")
    )
    return (
        candidates.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 40)
    )


@q(
    "t27_stream_patterns",
    """
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    f AS (
      SELECT user_id, ts, event_id, substring(event_type, 1, 1) AS c,
             CASE WHEN ts - lag(ts) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id)
               <= INTERVAL 12 HOUR THEN 0 ELSE 1 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts, event_id, c,
             SUM(is_new) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS session_id
      FROM f
    ),
    j AS (
      SELECT user_id, session_id, MIN(ts) AS session_start,
             MAX(ts) AS session_end,
             string_agg(c, '' ORDER BY ts, event_id) AS journey
      FROM s GROUP BY user_id, session_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, session_start, journey,
           CAST(len(regexp_extract_all(journey, 's[cv]+p')) AS BIGINT)
             AS n_matches,
           CAST(coalesce(list_sum(list_transform(
                  regexp_extract_all(journey, 's[cv]+p'),
                  x -> length(x))), 0) AS BIGINT) AS matched_chars
    FROM j, mx
    WHERE session_end + INTERVAL 12 HOUR <= m - INTERVAL 10 MINUTE
    """,
)
def t27_stream_patterns(spark, sf_dir):
    """T27 — w24's quantified pattern (A B+ C) as a STREAMING query:
    session_window(12 h) aggregation under a 10-minute watermark
    builds each session's journey string incrementally (collect_list
    merges per micro-batch; array_sort over (ts, event_id) structs
    makes the fold order-insensitive — the same discipline as every
    streamed ≡ batch entry), append mode emits a session only once
    the watermark passes its close, and the regex scan runs on the
    emitted rows. The oracle is w24's lag/cumsum + string_agg replay
    RESTRICTED to watermark-finalized sessions (session_end + gap ≤
    max(ts) − delay), t13's append-mode discipline. session_window ≡
    lag/cumsum sessionization is separately certified by t9.

    Boundary semantics VERIFIED empirically (round 5, ADVICE r04):
    Spark's append-mode eviction is INCLUSIVE — a session whose close
    (last_ts + gap) equals the final watermark exactly IS emitted
    (probe: gap 1 h, delay 10 min, close == max_ts − delay → row
    present) — so the oracle's ``<=`` matches Spark at every sf, not
    just the certified ones."""
    stage = _stage_events(spark, sf_dir)
    stream = sp.read_file_stream(spark, stage, EVENTS_SCHEMA)
    journey = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "ts",
                        "event_id",
                        F.substring("event_type", 1, 1).alias("c"),
                    )
                )
            ),
            lambda s: s.getField("c"),
        ),
        "",
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window(F.col("ts"), "12 hours"),
            F.col("user_id").cast("bigint").alias("user_id"),
        )
        .agg(journey.alias("journey"))
    )
    name = f"pat_{uuid.uuid4().hex[:8]}"
    out = sp.run_to_memory(agg, name, output_mode="append")
    pat = F.lit("s[cv]+p")
    matched_chars = F.aggregate(
        F.regexp_extract_all(F.col("journey"), pat, F.lit(0)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.length(x),
    )
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "journey",
        F.regexp_count(F.col("journey"), pat).cast("bigint").alias("n_matches"),
        matched_chars.alias("matched_chars"),
    )


@q(
    "t30_stream_twap",
    """
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
             CAST(round(value * 10000) AS BIGINT) AS v_fp
      FROM events
    ),
    p AS (
      SELECT user_id, ts_ms, v_fp,
             COALESCE(lead(ts_ms) OVER (
               PARTITION BY user_id ORDER BY ts_ms, event_id),
               (ts_ms // 86400000 + 1) * 86400000) AS end_ms
      FROM e
    ),
    x AS (
      SELECT user_id, ts_ms, end_ms, v_fp,
             ts_ms // 86400000 AS d0, u.di AS di
      FROM p, unnest(range(ts_ms // 86400000,
             greatest(ts_ms // 86400000,
                      (end_ms - 1) // 86400000) + 1)) AS u(di)
    ),
    c AS (
      SELECT user_id, di,
             CASE WHEN di = d0 THEN 1 ELSE 0 END AS own,
             least(end_ms, (di + 1) * 86400000)
               - greatest(ts_ms, di * 86400000) AS dur,
             v_fp
      FROM x
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(epoch_ms(di * 86400000), '%Y-%m-%d') AS day,
           CAST(SUM(own) AS BIGINT) AS n_events,
           CAST(SUM(dur) AS BIGINT) AS total_dur_ms,
           CAST(SUM(v_fp * dur) AS DOUBLE)
             / (CAST(SUM(dur) AS DOUBLE) * 10000.0) AS twap
    FROM c GROUP BY user_id, di
    """,
)
def t30_stream_twap(spark, sf_dir):
    """T30 — STREAMING incremental maintenance of w25's full-coverage
    daily TWAP (oracle verbatim). The feed is 4 time-ordered append
    commits (contiguous DAY ranges, so equal timestamps never
    straddle a commit boundary — the shape a CDC/versioned change
    feed or Kafka topic delivers for append-only telemetry), tailed
    one commit per micro-batch. Each batch folds O(batch) work:
    union the per-key CARRY STATE (each key's last un-closed reading)
    with the batch, one per-key lead closes every hold interval
    except the new last-per-key, intervals CLIP TO DAY BOUNDS
    immediately, and the batch lands LINEAR partials
    (user, day, own, dur_ms, weighted_value) as an idempotent
    epoch-keyed parquet (overwrite-on-retry — the t29 discipline;
    state epochs are keyed the same way, so a replayed batch reads
    the same predecessor state and rewrites identical outputs).
    Serving SUM-merges the partials and closes each key's final open
    hold to its own day-end (w25's last-reading semantics). Because
    commits are time-ordered per key, lead-across-(state ∪ batch)
    produces exactly the global-lead intervals — streamed ≡ batch
    bit-identically, all-BIGINT arithmetic, one double division.
    Inserts-only by contract (TWAP under retractions would need the
    full CDC fold)."""
    day_lit = F.lit(_DAY_MS).cast("bigint")
    div_day = _div_day

    ev = T(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_millis("ts").alias("ts_ms"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.round(F.col("value") * 10000, 0).cast("bigint").alias("v_fp"),
    )
    base = _scratch("t30")
    feed = _stage_ordered_day_feed(ev, base)

    part_root = os.path.join(base, "partials")
    state_root = os.path.join(base, "state")
    state_schema = "user_id BIGINT, ts_ms BIGINT, event_id BIGINT, v_fp BIGINT"

    def fold(batch_df, batch_id: int) -> None:
        sp_ = batch_df.sparkSession
        prior = sp.read_last_epoch(sp_, state_root, state_schema, before=batch_id)
        cur = batch_df.select("user_id", "ts_ms", "event_id", "v_fp")
        alle = prior.unionByName(cur)
        wk = Window.partitionBy("user_id").orderBy(
            F.col("ts_ms").asc(), F.col("event_id").asc()
        )
        closed = (
            alle.withColumn("end_ms", F.lead("ts_ms").over(wk))
            .filter(F.col("end_ms").isNotNull())
        )
        d0 = div_day(F.col("ts_ms"))
        d1 = F.greatest(d0, div_day(F.col("end_ms") - 1))
        ex = closed.select(
            "user_id", "ts_ms", "end_ms", "v_fp",
            F.explode(F.sequence(d0, d1)).alias("di"),
        )
        lo = F.greatest(F.col("ts_ms"), F.col("di") * day_lit)
        hi = F.least(F.col("end_ms"), (F.col("di") + 1) * day_lit)
        ivl = ex.select(
            "user_id", "di",
            F.lit(0).cast("bigint").alias("own"),
            (hi - lo).alias("dur"),
            (F.col("v_fp") * (hi - lo)).alias("wv"),
        )
        owns = cur.select(
            "user_id", div_day(F.col("ts_ms")).alias("di"),
            F.lit(1).cast("bigint").alias("own"),
            F.lit(0).cast("bigint").alias("dur"),
            F.lit(0).cast("bigint").alias("wv"),
        )
        sp.write_epoch(
            ivl.unionByName(owns)
            .groupBy("user_id", "di")
            .agg(
                F.sum("own").cast("bigint").alias("own"),
                F.sum("dur").cast("bigint").alias("dur"),
                F.sum("wv").cast("bigint").alias("wv"),
            ),
            part_root, batch_id
        )
        last = (
            alle.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.col("ts_ms").desc(), F.col("event_id").desc()
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        sp.write_epoch(last, state_root, batch_id)

    stream = sp.read_file_stream(
        spark,
        os.path.join(feed, "cv-*"),
        state_schema,
        max_files_per_trigger=1,
    )
    sp.drain(stream, fold, os.path.join(base, "ck"))

    st = sp.read_last_epoch(spark, state_root, state_schema)
    sd0 = div_day(F.col("ts_ms"))
    s_end = (sd0 + 1) * day_lit
    close = st.select(
        "user_id", sd0.alias("di"),
        F.lit(0).cast("bigint").alias("own"),
        (s_end - F.col("ts_ms")).alias("dur"),
        (F.col("v_fp") * (s_end - F.col("ts_ms"))).alias("wv"),
    )
    parts = sp.read_epochs(spark, part_root)
    return (
        parts.unionByName(close)
        .groupBy("user_id", "di")
        .agg(
            F.sum("own").cast("bigint").alias("n_events"),
            F.sum("dur").cast("bigint").alias("total_dur_ms"),
            (
                F.sum("wv").cast("double")
                / (F.sum("dur").cast("double") * F.lit(10000.0))
            ).alias("twap"),
        )
        .select(
            "user_id",
            F.date_format(
                F.timestamp_millis(F.col("di") * day_lit), "yyyy-MM-dd"
            ).alias("day"),
            "n_events",
            "total_dur_ms",
            "twap",
        )
    )


@q("t31_stream_chi2", _ext.ORACLES["q15_chi2_drift"])
def t31_stream_chi2(spark, sf_dir):
    """T31 — STREAMING chi-square drift monitor: per-micro-batch
    per-bucket (side, count) partials land as idempotent epoch-keyed
    parquet (the t23 discipline — bin counts are LINEAR, union + sum
    merges exactly), and serving computes the statistic from the
    merged bins (operators/anomaly.py:chi2_from_bins). Streamed ≡
    one-shot batch, so this entry carries q15's hard oracle
    verbatim — PSI and chi-square monitors share the same partial
    stream, differing only in the serve-side arithmetic."""
    from eco_pulse_lakehouse_spark.operators.anomaly import (
        chi2_from_bins,
    )

    stage = _stage_events(spark, sf_dir)
    base = _scratch("t31_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, EVENTS_SCHEMA, max_files_per_trigger=1
    )

    def land_partial(batch_df, batch_id: int) -> None:
        bins = (
            batch_df.filter(F.col("value").isNotNull())
            .groupBy(
                F.floor(F.col("value") / F.lit(10.0))
                .cast("bigint")
                .alias("__bucket")
            )
            .agg(
                F.sum(
                    F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)
                ).alias("__k1"),
                F.sum(
                    F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)
                ).alias("__k2"),
            )
        )
        sp.write_epoch(bins, sink, batch_id)

    sp.drain(stream, land_partial, ck)

    merged = (
        sp.read_epochs(spark, sink)
        .groupBy("__bucket")
        .agg(
            F.sum("__k1").alias("__k1"),
            F.sum("__k2").alias("__k2"),
        )
    )
    return chi2_from_bins(merged)


@q("t33_stream_holt", _ext.ORACLES["w28_holt_linear"])
def t33_stream_holt(spark, sf_dir):
    """T33 — STREAMING Holt forecaster maintenance (w28's oracle
    verbatim): the same time-ordered append feed as t30, but the
    carried state IS the forecaster — per key (l, b, n, x1_pending).
    Each micro-batch sorts ITS events per key and continues the
    exact w28 fold from the carried state in an applyInPandas step
    (O(batch) work, state O(keys)); because commits are time-ordered
    per key, the concatenation of per-batch folds IS the one-shot
    fold — streamed ≡ batch bit-identically, including the
    first-two-readings initialization (a key's first batch may hold
    only one reading, so the unstarted state parks x1 until x2
    arrives). The production shape for millions of per-key online
    forecasters: no history re-read, serving reads the latest state
    epoch."""
    import pandas as pd

    ev = T(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_millis("ts").alias("ts_ms"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("value").cast("double").alias("v"),
    )
    base = _scratch("t33")
    feed = _stage_ordered_day_feed(ev, base)

    state_root = os.path.join(base, "state")
    state_schema = (
        "user_id BIGINT, n BIGINT, l DOUBLE, b DOUBLE, x1 DOUBLE"
    )

    def fold(batch_df, batch_id: int) -> None:
        sp_ = batch_df.sparkSession
        prior = sp.read_last_epoch(sp_, state_root, state_schema, before=batch_id)

        def continue_fold(pdf: pd.DataFrame) -> pd.DataFrame:
            st = pdf[pdf["__src"] == 0]
            ev_rows = (
                pdf[pdf["__src"] == 1]
                .sort_values(["ts_ms", "event_id"])
            )
            if len(st):
                n = int(st["n"].iloc[0])
                l, b = st["l"].iloc[0], st["b"].iloc[0]
                x1 = st["x1"].iloc[0]
            else:
                n, l, b, x1 = 0, None, None, None
            for x in ev_rows["v"]:
                n += 1
                if n == 1:
                    x1 = x
                elif n == 2:
                    l, b = x1, x - x1
                    ln = 0.5 * x + 0.5 * (l + b)
                    b = 0.5 * (ln - l) + 0.5 * b
                    l = ln
                else:
                    ln = 0.5 * x + 0.5 * (l + b)
                    b = 0.5 * (ln - l) + 0.5 * b
                    l = ln
            return pd.DataFrame(
                {"user_id": [pdf["user_id"].iloc[0]], "n": [n],
                 "l": [l], "b": [b], "x1": [x1]}
            )

        alle = prior.withColumn("__src", F.lit(0)).unionByName(
            batch_df.withColumn("__src", F.lit(1)),
            allowMissingColumns=True,
        )
        state = alle.groupBy("user_id").applyInPandas(
            continue_fold, schema=state_schema
        )
        sp.write_epoch(state, state_root, batch_id)

    stream = sp.read_file_stream(
        spark,
        os.path.join(feed, "cv-*"),
        "user_id BIGINT, ts_ms BIGINT, event_id BIGINT, v DOUBLE",
        max_files_per_trigger=1,
    )
    sp.drain(stream, fold, os.path.join(base, "ck"))

    st = sp.read_last_epoch(spark, state_root, state_schema)
    return st.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.when(F.col("n") == 1, F.col("x1")).otherwise(F.col("l")).alias("level"),
        F.col("b").alias("trend"),
        (
            F.when(F.col("n") == 1, F.col("x1")).otherwise(F.col("l"))
            + F.col("b")
        ).alias("forecast_1"),
    )


@q("t34_stream_hw_seasonal", _ext.ORACLES["w30_hw_seasonal"])
def t34_stream_hw_seasonal(spark, sf_dir):
    """T34 — STREAMING Holt-Winters seasonal maintenance (w30's
    oracle verbatim; VERDICT r05 item 6's carry-state twin): the
    same time-ordered append feed as t30/t33, carried state = the
    full seasonal forecaster per key — (n, l, b, rotating seasonal
    buffer s[4], pending init prefix). A key's first 2m readings
    park in ``pend`` until two full seasons arrive, then the
    textbook init fires and subsequent batches continue the exact
    w30 fold from carried state (Python float ops are the same IEEE
    doubles in the same order — bit-identical to the Spark fold and
    the DuckDB oracle). Because commits are time-ordered per key,
    the concatenation of per-batch folds IS the one-shot fold —
    streamed ≡ batch bit-exactly. O(batch) work per batch, state
    O(keys · m); serving reads the latest state epoch. Keys that
    never reach 2m readings surface NULL state and are filtered at
    serve time, matching w30's >= 2m contract."""
    import pandas as pd

    ev = T(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_millis("ts").alias("ts_ms"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("value").cast("double").alias("v"),
    )
    base = _scratch("t34")
    feed = _stage_ordered_day_feed(ev, base)

    state_root = os.path.join(base, "state")
    state_schema = (
        "user_id BIGINT, n BIGINT, l DOUBLE, b DOUBLE, "
        "s ARRAY<DOUBLE>, pend ARRAY<DOUBLE>"
    )
    m = 4

    def fold(batch_df, batch_id: int) -> None:
        sp_ = batch_df.sparkSession
        prior = sp.read_last_epoch(sp_, state_root, state_schema, before=batch_id)

        def seq(a) -> float:
            t = 0.0
            for x in a:
                t = t + x
            return t

        def continue_fold(pdf: pd.DataFrame) -> pd.DataFrame:
            st = pdf[pdf["__src"] == 0]
            ev_rows = (
                pdf[pdf["__src"] == 1]
                .sort_values(["ts_ms", "event_id"])
            )
            if len(st):
                n = int(st["n"].iloc[0])
                l, b = st["l"].iloc[0], st["b"].iloc[0]
                s = st["s"].iloc[0]
                s = None if s is None else list(s)
                pend = list(st["pend"].iloc[0])
            else:
                n, l, b, s, pend = 0, None, None, None, []
            for x in ev_rows["v"]:
                n += 1
                if s is None:
                    pend.append(x)
                    if len(pend) == 2 * m:
                        l = seq(pend[:m]) / float(m)
                        b = (seq(pend[m:]) - seq(pend[:m])) / float(
                            m * m
                        )
                        s = [xx - l for xx in pend[:m]]
                        pend = []
                else:
                    s_old = s[0]
                    ln = 0.5 * (x - s_old) + 0.5 * (l + b)
                    bn = 0.5 * (ln - l) + 0.5 * b
                    sn = 0.5 * (x - l - b) + 0.5 * s_old
                    l, b = ln, bn
                    s = s[1:] + [sn]
            return pd.DataFrame(
                {"user_id": [pdf["user_id"].iloc[0]], "n": [n],
                 "l": [l], "b": [b], "s": [s], "pend": [pend]}
            )

        alle = prior.withColumn("__src", F.lit(0)).unionByName(
            batch_df.withColumn("__src", F.lit(1)),
            allowMissingColumns=True,
        )
        state = alle.groupBy("user_id").applyInPandas(
            continue_fold, schema=state_schema
        )
        sp.write_epoch(state, state_root, batch_id)

    stream = sp.read_file_stream(
        spark,
        os.path.join(feed, "cv-*"),
        "user_id BIGINT, ts_ms BIGINT, event_id BIGINT, v DOUBLE",
        max_files_per_trigger=1,
    )
    sp.drain(stream, fold, os.path.join(base, "ck"))

    st = sp.read_last_epoch(spark, state_root, state_schema)
    return st.filter(F.col("s").isNotNull()).select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("l").alias("level"),
        F.col("b").alias("trend"),
        F.get("s", 0).alias("season_next"),
        (F.col("l") + F.col("b") + F.get("s", 0)).alias("forecast_1"),
    )


@q("t35_stream_dedup_clusters", _ns.ORACLES["x2_dedup_clusters"])
def t35_stream_dedup_clusters(spark, sf_dir):
    """T35 — STREAMING near-dup CLUSTER maintenance
    (x2_dedup_clusters' oracle verbatim; VERDICT r05 item 7 — the
    last X2 family member without a streaming twin): documents
    stream in one file per trigger and the carried state is the
    cluster LABEL table itself (id, comp), maintained incrementally:

    1. Each batch lands its distinct-shingle index rows
       (id, shingle, set_size) as idempotent epoch-keyed parquet —
       the t18 discipline: per-batch cost O(batch), history never
       re-shingled.
    2. New pairs = exact Jaccard >= 0.2 between THIS batch's docs
       and the accumulated corpus (index equi-join on the shingle,
       countDistinct shared shingles per normalized pair, sizes off
       the denormalized index rows). Every cross-corpus pair is
       discovered exactly once — in the batch of its later
       endpoint — so the union of per-batch pair sets IS the batch
       operator's pair set.
    3. Label merge restricted to AFFECTED components only: the
       carried label table is a star forest (comp = min reachable
       id — the invariant each batch re-establishes), so
       connectivity of {star edges of affected comps} + {new pairs}
       equals connectivity of the full pair graph; min-label
       propagation (operators/components.py:connected_components)
       runs on that subgraph alone and unaffected labels carry
       forward untouched — per-batch relabel cost O(batch + touched
       clusters), never O(corpus).

    State epochs are full label snapshots here (corpus-scale); at
    100 TB the same loop writes only affected comp-bucket partitions
    (dynamic partition overwrite — the t20 gold-upsert trick).
    Streamed ≡ batch: the final label table equals
    connected_components(ngram_jaccard_pairs(docs)) exactly, so the
    entry carries the x2 label-propagation oracle verbatim."""
    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    base = _scratch("t35")
    stage = os.path.join(base, "docs")
    docs.repartition(4).write.parquet(stage)

    idx_root = os.path.join(base, "index")
    state_root = os.path.join(base, "state")

    def fold(batch_df, batch_id: int) -> None:
        from eco_pulse_lakehouse_spark.operators.components import (
            incremental_components_update,
        )
        from eco_pulse_lakehouse_spark.operators.dedup import (
            word_shingles,
        )

        sp_ = batch_df.sparkSession
        # 1. land this batch's shingle index partial (idempotent per
        # epoch: overwrite)
        sh = batch_df.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(
                word_shingles(F.col("text"), 3)
            ).alias("__shs"),
        ).select(
            "id",
            F.size("__shs").alias("sz"),
            F.explode("__shs").alias("__s"),
        )
        sp.write_epoch(sh, idx_root, batch_id)

        # 2. pairs touching this batch, against the accumulated index
        # (the partials up to and including this batch's own)
        full = sp.read_epochs(sp_, idx_root, before=batch_id + 1)
        bat = sp.read_last_epoch(sp_, idx_root, sh.schema, batch_id + 1)
        cand = full.select(
            F.col("id").alias("__ia"), F.col("sz").alias("__za"), "__s"
        ).join(
            bat.select(
                F.col("id").alias("__ib"),
                F.col("sz").alias("__zb"),
                "__s",
            ),
            "__s",
        ).filter(F.col("__ia") != F.col("__ib"))
        lo_first = F.col("__ia") < F.col("__ib")
        new_pairs = (
            cand.select(
                F.least("__ia", "__ib").alias("id_a"),
                F.greatest("__ia", "__ib").alias("id_b"),
                F.when(lo_first, F.col("__za"))
                .otherwise(F.col("__zb"))
                .alias("__sa"),
                F.when(lo_first, F.col("__zb"))
                .otherwise(F.col("__za"))
                .alias("__sb"),
                "__s",
            )
            .groupBy("id_a", "id_b")
            .agg(
                F.countDistinct("__s").alias("__inter"),
                F.first("__sa").alias("__sa"),
                F.first("__sb").alias("__sb"),
            )
            .withColumn(
                "__j",
                F.col("__inter").cast("double")
                / (F.col("__sa") + F.col("__sb") - F.col("__inter")),
            )
            .filter(F.col("__j") >= F.lit(0.2))
            .select("id_a", "id_b")
        )

        # 3. merge labels — affected components only
        # (operators/components.py:incremental_components_update)
        prior = sp.read_last_epoch(sp_, state_root, _LABELS, before=batch_id)
        sp.write_epoch(
            incremental_components_update(prior, new_pairs),
            state_root, batch_id
        )

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )
    sp.drain(stream, fold, os.path.join(base, "ck"))

    return sp.read_last_epoch(spark, state_root, _LABELS)


@q("t32_stream_bm25", _ns.ORACLES["x4_bm25"])
def t32_stream_bm25(spark, sf_dir):
    """T32 — STREAMING search-index maintenance: documents stream in
    one file per trigger and each micro-batch lands its POSTINGS
    partial (doc_id, term, tf) as idempotent epoch-keyed parquet.
    Documents partition across batches, so each doc's tf rows are
    complete within its batch and the accumulated index is a plain
    union — LINEAR partials, the t17/t23/t29 discipline applied to
    the inverted index itself. Serving derives dl/df/corpus stats
    from the merged postings and runs the identical BM25 ranking
    (retrieval.py:bm25_from_postings), so the streamed index answers
    queries EXACTLY like the one-shot batch build — this entry
    carries x4_bm25's hard oracle verbatim. The production shape:
    the index grows at ingest cost O(batch), history is never
    re-tokenized, any query batch is a broadcast over the postings."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        bm25_from_postings,
        query_terms,
        term_postings,
    )

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    base = _scratch("t32")
    stage = os.path.join(base, "in")
    docs.repartition(4).write.parquet(stage)
    sink, ck = os.path.join(base, "index"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, "doc_id BIGINT, text STRING", max_files_per_trigger=1
    )

    def land_postings(batch_df, batch_id: int) -> None:
        sp.write_epoch(
            term_postings(batch_df, "doc_id", "text"), sink, batch_id
        )

    sp.drain(stream, land_postings, ck)

    postings = sp.read_epochs(spark, sink)
    q_terms = query_terms(spark, _ns._BM25_QUERIES)
    return bm25_from_postings(
        postings, "doc_id", q_terms, k1=1.2, b=0.75, k=10
    )


@q(
    "t29_stream_dataset_card",
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
def t29_stream_dataset_card(spark, sf_dir):
    """T29 — STREAMING dataset card: each micro-batch lands its
    (lang, text, n, toks, chars) partial as an idempotent epoch-keyed
    parquet (tokens/chars are FUNCTIONS of the text, so the partial
    is linear in (lang, text) — union + sum merges exactly, the
    t17/t23 discipline); serving merges the partials, derives
    corpus-wide text totals for the dup verdicts, and aggregates the
    per-domain card. The streamed card is IDENTICAL to the one-shot
    batch computation, so this entry carries x7_dataset_card's hard
    oracle verbatim — stats accumulate at ingest, publishing the
    card is a tiny merge, the corpus is never re-scanned."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    base = _scratch("t29")
    stage = os.path.join(base, "in")
    docs.repartition(4).write.parquet(stage)
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    def land_partial(batch_df, batch_id: int) -> None:
        from eco_pulse_lakehouse_spark.functions.text import token_count

        part = batch_df.groupBy("lang", "text").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.first(token_count(F.col("text")).cast("bigint")).alias(
                "toks"
            ),
            F.first(F.length("text").cast("bigint")).alias("chars"),
        )
        sp.write_epoch(part, sink, batch_id)

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )
    sp.drain(stream, land_partial, ck)

    merged = (
        sp.read_epochs(spark, sink)
        .groupBy("lang", "text", "toks", "chars")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    global_text = merged.groupBy("text").agg(
        F.sum("n").cast("bigint").alias("__g")
    )
    return (
        merged.join(global_text, "text")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("__g") > 1, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.sum(F.col("n") * F.col("toks"))
            .cast("bigint")
            .alias("total_ws_tokens"),
            F.sum(F.col("n") * F.col("chars"))
            .cast("bigint")
            .alias("total_chars"),
            (
                F.sum(F.col("n") * F.col("chars")).cast("double")
                / F.sum("n").cast("double")
            ).alias("mean_doc_chars"),
        )
    )


@q("t36_stream_bpe", _ns._bpe_sql(_ns._BPE_MERGES))
def t36_stream_bpe(spark, sf_dir):
    """T36 — STREAMING tokenizer-statistics maintenance: documents
    stream through the file source one file per trigger; each batch
    lands its (word, count) partial as an idempotent epoch-keyed
    parquet (the t17 sketch discipline — word counts are LINEAR, so
    partials SUM-merge to exactly the one-pass vocabulary), and BPE
    merge LEARNING (operators/bpe.py:learn_bpe_merges_from_vocab)
    runs once on the merged vocab-sized table. The 100 TB shape:
    token statistics accumulate at ingest per batch, history is
    never re-tokenized, and re-training the tokenizer is a
    vocab-sized job at any time. Streamed ≡ batch bit-identically
    (count linearity + the deterministic greedy loop), so this
    STREAMING entry carries x4_bpe_merges' oracle verbatim."""
    from eco_pulse_lakehouse_spark.functions.text import tokens
    from eco_pulse_lakehouse_spark.operators.bpe import (
        learn_bpe_merges_from_vocab,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    stage = _scratch("t36")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t36_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_partial(batch_df, batch_id: int) -> None:
        sp.write_epoch(
            batch_df.select(F.explode(tokens(F.col("text"))).alias("w"))
            .filter(F.length("w") > 0)
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("f")),
            sink, batch_id
        )

    sp.drain(stream, land_partial, ck)

    vocab = (
        sp.read_epochs(spark, sink)
        .groupBy("w")
        .agg(F.sum("f").alias("f"))
    )
    return learn_bpe_merges_from_vocab(vocab, n_merges=_ns._BPE_MERGES)


@q("t39_stream_wordpiece", _ns._wp_sql(_ns._BPE_MERGES))
def t39_stream_wordpiece(spark, sf_dir):
    """T39 — STREAMING WordPiece maintenance: the t36 discipline
    (one idempotent epoch-keyed (word, count) partial per batch;
    counts are LINEAR so partials SUM-merge to exactly the one-pass
    vocabulary) with the likelihood-scored merge loop
    (operators/bpe.py:learn_wordpiece_merges_from_vocab) on the
    merged table. Symbol counts — the WordPiece denominator — derive
    from the segmentation state of the merged vocab, not from the
    stream, so streamed ≡ batch bit-identically and this entry
    carries x4_wordpiece_merges' oracle verbatim."""
    from eco_pulse_lakehouse_spark.functions.text import tokens
    from eco_pulse_lakehouse_spark.operators.bpe import (
        learn_wordpiece_merges_from_vocab,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    stage = _scratch("t39")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t39_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_partial(batch_df, batch_id: int) -> None:
        sp.write_epoch(
            batch_df.select(F.explode(tokens(F.col("text"))).alias("w"))
            .filter(F.length("w") > 0)
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("f")),
            sink, batch_id
        )

    sp.drain(stream, land_partial, ck)

    vocab = (
        sp.read_epochs(spark, sink)
        .groupBy("w")
        .agg(F.sum("f").alias("f"))
    )
    return learn_wordpiece_merges_from_vocab(
        vocab, n_merges=_ns._BPE_MERGES
    )


@q(
    "t40_stream_wordpiece_infer",
    _ns._wp_sql(_ns._BPE_MERGES, final="token_counts"),
)
def t40_stream_wordpiece_infer(spark, sf_dir):
    """T40 — STREAMING tokenizer INFERENCE (the serve side completing
    t36/t39's train side, VERDICT r08 item 3): a WordPiece merge
    table learned batch-side (the shipped tokenizer artifact) is
    applied to a document STREAM, one file per trigger; each batch
    lands its documents' EXACT per-doc token counts as an idempotent
    epoch-keyed parquet partial. Inference is stateless and
    batch-local — the merge folds (bpe.py:apply_merge) are row-local
    over the batch's own vocab-sized distinct-word table, broadcast
    onto the batch's token stream — so unseen future words segment
    correctly and no vocabulary state is carried between batches.
    Every document lives in exactly ONE source file, so the per-doc
    partials are disjoint and their union IS the batch-mode result:
    streamed ≡ batch bit-identically, and this entry carries
    x4_wordpiece_token_count's oracle verbatim (per-batch work:
    O(batch tokens) + vocab-sized folds — linear at 100 TB)."""
    from eco_pulse_lakehouse_spark.functions.text import tokens
    from eco_pulse_lakehouse_spark.operators.bpe import (
        learn_wordpiece_merges,
        segment_words,
    )

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    merges = [
        (r.left_sym, r.right_sym)
        for r in learn_wordpiece_merges(
            docs, "text", n_merges=_ns._BPE_MERGES
        )
        .orderBy("merge_round")
        .collect()
    ]

    stage = _scratch("t40")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t40_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_counts(batch_df, batch_id: int) -> None:
        seg = segment_words(batch_df, merges)
        tok = batch_df.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("w")
        ).filter(F.length("w") > 0)
        sp.write_epoch(
            tok.join(F.broadcast(seg), "w")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum(F.size("seg")).cast("bigint").alias("n_wp_tokens"),
            ),
            sink, batch_id
        )

    sp.drain(stream, land_counts, ck)

    return sp.read_epochs(spark, sink).select(
        "doc_id", "n_words", "n_wp_tokens"
    )


@q(
    "t41_stream_nb_gate",
    f"""
    WITH {_ns._nb_cte("documents")}
    SELECT doc_id, n_feats, evidence_fp, margin_fp,
           margin_fp >= 0 AS keep
    FROM nmargins
    """,
)
def t41_stream_nb_gate(spark, sf_dir):
    """T41 — STREAMING quality-classifier maintenance (the
    incremental twin of x4_nb_quality_gate, completing the learned
    NB rung the way t37 completes DSIR): documents stream one file
    per trigger; each batch lands THREE linear partials as
    idempotent epoch-keyed parquet — (bucket, c_pos, c_neg) feature
    class counts, a 1-row (n_pos, n_neg) document label count, and
    (doc_id, bucket, n) per-doc feature-bucket counts — all pure
    SUMs, so partials merge to exactly the one-pass tables. Serving
    re-derives the 128-row fixed-point log-odds table and the 1-row
    prior from the merged counts through the IDENTICAL expression
    trees (selection.py:ratio_table / prior_counts_to_fp) and
    broadcasts both onto the merged doc-bucket counts:
    Σ_bucket n·w_fp ≡ Σ_features w_fp, so streamed margins are
    BIT-IDENTICAL to the batch run and this entry carries
    x4_nb_quality_gate's oracle verbatim. The 100 TB shape: ingest
    updates vocab-sized + per-doc-linear tables, history is never
    re-featurized, and re-gating the whole corpus after the model
    drifts is a broadcast join — not a re-scan of the text."""
    from eco_pulse_lakehouse_spark.corpus.northstar import _nb_pos_pred
    from eco_pulse_lakehouse_spark.operators.selection import (
        _hashed_features,
        prior_counts_to_fp,
        ratio_table,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    stage = _scratch("t41")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t41_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_partials(batch_df, batch_id: int) -> None:
        lab = batch_df.select(
            "doc_id", _nb_pos_pred().alias("__is_p"), "text"
        )
        feat = lab.select(
            "doc_id",
            "__is_p",
            F.explode(_hashed_features(F.col("text"), 128)).alias("bucket"),
        )
        sp.write_epoch(
            feat.groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("__is_p"), 1).otherwise(0))
                .cast("bigint")
                .alias("c_pos"),
                F.sum(F.when(F.col("__is_p"), 0).otherwise(1))
                .cast("bigint")
                .alias("c_neg"),
            ),
            os.path.join(sink, "counts"), batch_id
        )
        sp.write_epoch(
            lab.agg(
                F.sum(F.when(F.col("__is_p"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_pos"),
                F.sum(F.when(F.col("__is_p"), 0).otherwise(1))
                .cast("bigint")
                .alias("n_neg"),
            ),
            os.path.join(sink, "labels"), batch_id
        )
        sp.write_epoch(
            feat.groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
            os.path.join(sink, "docbuckets"), batch_id
        )

    sp.drain(stream, land_partials, ck)

    counts = (
        sp.read_epochs(spark, os.path.join(sink, "counts"))
        .groupBy("bucket")
        .agg(
            F.sum("c_pos").cast("bigint").alias("c_target"),
            F.sum("c_neg").cast("bigint").alias("c_raw"),
        )
    )
    ratios = ratio_table(counts, n_buckets=128)
    pri = prior_counts_to_fp(
        sp.read_epochs(spark, os.path.join(sink, "labels")).agg(
            F.sum("n_pos").cast("bigint").alias("n_pos"),
            F.sum("n_neg").cast("bigint").alias("n_neg"),
        )
    )
    docbuckets = (
        sp.read_epochs(spark, os.path.join(sink, "docbuckets"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    margin = F.col("__sw") + F.col("prior_fp")
    return (
        docbuckets.join(
            F.broadcast(ratios.select("bucket", "w_fp")), "bucket"
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_feats"),
            F.sum(F.col("n") * F.col("w_fp")).alias("__sw"),
        )
        .crossJoin(F.broadcast(pri.select("prior_fp")))
        .select(
            "doc_id",
            "n_feats",
            F.col("__sw").cast("bigint").alias("evidence_fp"),
            margin.cast("bigint").alias("margin_fp"),
            (margin >= F.lit(0)).alias("keep"),
        )
    )


@q("t42_stream_gold_topk", _rel._GOLD_TOPK_SQL)
def t42_stream_gold_topk(spark, sf_dir):
    """T42 — STREAMING k-nearest gold (the serve twin of
    flagship_gold_risk_topk): fire events stream one file per
    trigger against the STATIC station dimension (latest reading per
    station, computed once and pinned — the t8 stream-static shape);
    each micro-batch runs the identical progressive-radius k-NN DAG
    (plans/gold.py:gold_topk_for_fires — narrow ε/8 join, strict-
    count resolution, sparse-fire fallback, per-fire ranking) and
    lands its fires' top-k rows as an idempotent epoch-keyed parquet
    partial. A fire's k nearest depend only on that fire and the
    station table, and every fire lives in exactly ONE source file,
    so the partials are disjoint and their union IS the one-shot
    result: streamed ≡ batch bit-identically, and this entry carries
    flagship_gold_risk_topk's oracle verbatim. The 100 TB shape:
    per-batch work is O(batch fires · resolved-neighborhood), output
    k·|batch fires| — the alerting pipeline the reference's 60 s
    full-recompute loop (gold_batch_job.py:81-101) wants to be."""
    from eco_pulse_lakehouse_spark.plans.gold import (
        _gold_event_sides,
        gold_topk_for_fires,
    )

    fires, stations = _gold_event_sides(spark, sf_dir)
    stations = stations.localCheckpoint(eager=True)  # static dim, pinned

    stage = _scratch("t42")
    fires.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t42_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    fire_schema = fires.schema
    stream = sp.read_file_stream(
        spark, stage, fire_schema, max_files_per_trigger=1
    )

    def land_topk(batch_df, batch_id: int) -> None:
        sp.write_epoch(
            gold_topk_for_fires(batch_df, stations, k=3),
            sink, batch_id
        )

    sp.drain(stream, land_topk, ck)

    return sp.read_epochs(spark, sink)


@q("t43_stream_rag_context", _ns._RAG_MMR_SQL)
def t43_stream_rag_context(spark, sf_dir):
    """T43 — STREAMING RAG context serving (the serve twin of the
    MMR-extended flagship_rag_context, completing the retrieval
    family's serve side the way t42 completes gold's): QUERY
    requests stream in (the 5 demo query vectors, split across
    files, one file per trigger — a request workload, not a corpus
    ingest) against the STATIC int8 store, built ONCE by the
    flagship's own expression tree (plans/rag_context.py:int8_store)
    and pinned — the maintained serving artifact, so no batch ever
    re-reads the float vectors. Each micro-batch runs the identical
    serve DAG (rag_context_mmr with query_ids = the batch's vec_ids
    and quantized = the pinned store: int8 top-k_pool retrieval →
    MMR diversify → containment dedup → token budget) and lands its
    queries' context rows as an idempotent epoch-keyed parquet
    partial. Every stage is per-q_id independent and every query
    lives in exactly ONE source file, so the partials are disjoint
    and their union IS the one-shot flagship result: streamed ≡
    batch bit-identically, and this entry carries
    flagship_rag_context's oracle verbatim. The 100 TB shape:
    per-request-batch work is pool-sized per query (k_pool² pair
    sims + k² containment pairs) after candidate-bounded retrieval
    against the int8 store — independent of corpus size."""
    from eco_pulse_lakehouse_spark.plans.rag_context import (
        int8_store,
        rag_context_mmr,
    )

    emb = T(spark, sf_dir, "embeddings")
    docs = T(spark, sf_dir, "documents")
    store = int8_store(emb).localCheckpoint(eager=True)  # pinned

    queries_df = emb.filter(F.col("vec_id") < 5).select(
        "vec_id", "embedding"
    )
    stage = _scratch("t43")
    queries_df.repartition(2).write.mode("overwrite").parquet(stage)

    base = _scratch("t43_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, queries_df.schema, max_files_per_trigger=1
    )

    def serve_contexts(batch_df, batch_id: int) -> None:
        ctx = rag_context_mmr(
            emb, docs, n_queries=5, k_pool=10, k_select=5,
            lam_num=7, lam_den=10, shingle_n=2, containment_num=3,
            containment_den=20, token_budget=250,
            query_ids=batch_df.select("vec_id"),
            quantized=store,
        )
        sp.write_epoch(ctx, sink, batch_id)

    sp.drain(stream, serve_contexts, ck)

    return sp.read_epochs(spark, sink).select(
        "q_id", "mmr_rank", "doc_id", "rel_fp", "n_tokens", "cum_tokens"
    )


@q("t45_stream_decontaminate", _ns._DECON_SQL)
def t45_stream_decontaminate(spark, sf_dir):
    """T45 — STREAMING decontamination at INGEST (the serve twin of
    x6_decontaminate): the benchmark's distinct 4-gram shingle set
    is built ONCE by the batch operator's own stage
    (operators/decontaminate.py:eval_shingle_set) and pinned — the
    artifact a training-data platform maintains per eval suite —
    and TRAIN documents stream in one file per trigger; each batch
    screens its docs against the pinned set
    (decontaminate.py:decontaminate_against — the identical
    train-side stage: distinct per-doc shingles, equi-join on the
    shingle key, per-doc distinct-match counts) and lands its
    flagged (doc_id, n_overlap) rows as an idempotent epoch-keyed
    parquet partial. A doc's overlap count depends only on that doc
    and the eval set, and every doc lives in exactly ONE source
    file, so the partials are disjoint and their union IS the
    one-shot removal list: streamed ≡ batch bit-identically, and
    this entry carries x6_decontaminate's oracle verbatim. The
    100 TB shape: the eval shingle set is benchmark-sized (broadcast
    at scale), per-batch work is O(batch shingles) through one
    equi-join — leakage is caught at the door instead of by a
    full-corpus re-scan before each training run."""
    from eco_pulse_lakehouse_spark.operators.decontaminate import (
        decontaminate_against,
        eval_shingle_set,
    )
    from eco_pulse_lakehouse_spark.operators.sampling import unit_hash

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    u = unit_hash(F.col("doc_id"))
    ev = eval_shingle_set(
        d.filter(u >= 0.9), "doc_id", "text", shingle_n=4
    ).localCheckpoint(eager=True)  # the pinned per-benchmark artifact
    train = d.filter(u < 0.9)

    stage = _scratch("t45")
    train.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t45_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, train.schema, max_files_per_trigger=1
    )

    def screen_batch(batch_df, batch_id: int) -> None:
        screened = decontaminate_against(
            batch_df, ev, "doc_id", "text", shingle_n=4
        )
        sp.write_epoch(screened, sink, batch_id)

    sp.drain(stream, screen_batch, ck)

    return sp.read_epochs(spark, sink).select("doc_id", "n_overlap")


@q("t44_stream_nb_gate_sweep", _ns._NB_SWEEP_SQL)
def t44_stream_nb_gate_sweep(spark, sf_dir):
    """T44 — STREAMING calibration maintenance (the incremental twin
    of x4_nb_gate_sweep, completing the learned-classifier rung's
    train/serve/CALIBRATE triangle the way t41 completes serve):
    documents stream one file per trigger; each batch lands FOUR
    linear partials as idempotent epoch-keyed parquet — TRAIN-half
    (unit-hash < 0.5) (bucket, c_pos, c_neg) class counts and a
    1-row (n_pos, n_neg) label count, plus HELD-OUT (doc_id, bucket,
    n) feature counts and (doc_id, is_p) labels — all pure SUMs /
    disjoint per-doc rows, so partials merge to exactly the one-pass
    tables. Serving re-derives the DENSIFIED 128-row log-odds table
    and the 1-row prior through the identical expression trees
    (selection.py:densify_counts / ratio_table /
    prior_counts_to_fp), broadcasts both onto the merged held-out
    doc-bucket counts (Σ n·w_fp ≡ Σ w_fp), and feeds the margins to
    the SHARED grid-replication + confusion stage
    (selection.py:gate_sweep_from_margins): the streamed tuning
    table is BIT-IDENTICAL to the batch sweep and this entry carries
    x4_nb_gate_sweep's oracle verbatim. The 100 TB shape: ingest
    updates vocab-sized + per-heldout-doc-linear tables; re-sweeping
    every candidate threshold after the model drifts is a broadcast
    join + a 7-row-grid aggregation — never a re-scan of the text."""
    from eco_pulse_lakehouse_spark.corpus.northstar import _nb_pos_pred
    from eco_pulse_lakehouse_spark.operators.sampling import unit_hash
    from eco_pulse_lakehouse_spark.operators.selection import (
        _hashed_features,
        densify_counts,
        gate_sweep_from_margins,
        prior_counts_to_fp,
        ratio_table,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    stage = _scratch("t44")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t44_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_partials(batch_df, batch_id: int) -> None:
        lab = batch_df.select(
            "doc_id",
            _nb_pos_pred().alias("__is_p"),
            (unit_hash(F.col("doc_id")) < 0.5).alias("__tr"),
            "text",
        )
        tr_feat = lab.filter(F.col("__tr")).select(
            "__is_p",
            F.explode(_hashed_features(F.col("text"), 128)).alias("bucket"),
        )
        sp.write_epoch(
            tr_feat.groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("__is_p"), 1).otherwise(0))
                .cast("bigint")
                .alias("c_pos"),
                F.sum(F.when(F.col("__is_p"), 0).otherwise(1))
                .cast("bigint")
                .alias("c_neg"),
            ),
            os.path.join(sink, "counts"), batch_id
        )
        sp.write_epoch(
            lab.filter(F.col("__tr"))
            .agg(
                F.sum(F.when(F.col("__is_p"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_pos"),
                F.sum(F.when(F.col("__is_p"), 0).otherwise(1))
                .cast("bigint")
                .alias("n_neg"),
            ),
            os.path.join(sink, "labels"), batch_id
        )
        ho = lab.filter(~F.col("__tr"))
        sp.write_epoch(
            ho.select(
                "doc_id",
                F.explode(_hashed_features(F.col("text"), 128)).alias(
                    "bucket"
                ),
            )
            .groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
            os.path.join(sink, "hobuckets"), batch_id
        )
        sp.write_epoch(
            ho.select("doc_id", "__is_p"),
            os.path.join(sink, "holabels"), batch_id
        )

    sp.drain(stream, land_partials, ck)

    counts = (
        sp.read_epochs(spark, os.path.join(sink, "counts"))
        .groupBy("bucket")
        .agg(
            F.sum("c_pos").cast("bigint").alias("c_target"),
            F.sum("c_neg").cast("bigint").alias("c_raw"),
        )
    )
    ratios = ratio_table(densify_counts(counts, 128, spark), n_buckets=128)
    pri = prior_counts_to_fp(
        sp.read_epochs(spark, os.path.join(sink, "labels")).agg(
            F.sum("n_pos").cast("bigint").alias("n_pos"),
            F.sum("n_neg").cast("bigint").alias("n_neg"),
        )
    )
    hobuckets = (
        sp.read_epochs(spark, os.path.join(sink, "hobuckets"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    holabels = sp.read_epochs(spark, os.path.join(sink, "holabels"))
    margins = (
        hobuckets.join(
            F.broadcast(ratios.select("bucket", "w_fp")), "bucket"
        )
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("w_fp")).alias("__sw"))
        .crossJoin(F.broadcast(pri.select("prior_fp")))
        .select(
            "doc_id",
            (F.col("__sw") + F.col("prior_fp"))
            .cast("bigint")
            .alias("margin_fp"),
        )
    )
    scored = margins.join(holabels, "doc_id").select("margin_fp", "__is_p")
    return gate_sweep_from_margins(scored)


@q(
    "t37_stream_dsir",
    f"WITH {_ns._DSIR_FB}\n"
    "    SELECT doc_id, n_feats, weight_fp FROM weights",
)
def t37_stream_dsir(spark, sf_dir):
    """T37 — STREAMING importance-model maintenance (the incremental
    twin of x6_dsir_weights): documents stream one file per trigger;
    each batch lands TWO linear partials as idempotent epoch-keyed
    parquet — (bucket, c_target, c_raw) for the hashed-n-gram LMs and
    (doc_id, bucket, n) per-doc feature-bucket counts — both pure
    SUMs, so partials merge to exactly the one-pass tables (the
    t17/t29 discipline). Serving re-derives the 128-row fixed-point
    log-ratio table from the merged counts (selection.py:ratio_table,
    the identical expression tree) and joins it broadcast onto the
    merged doc-bucket counts: Σ_bucket n·w_fp ≡ Σ_features w_fp, so
    the streamed weights are BIT-IDENTICAL to the batch run and this
    entry carries x6_dsir_weights' oracle verbatim. The 100 TB shape:
    ingest updates vocab-sized + per-doc-linear tables, history is
    never re-featurized, and re-weighting the whole corpus after the
    target distribution drifts is a broadcast join — not a re-scan of
    the text."""
    from eco_pulse_lakehouse_spark.operators.selection import (
        _hashed_features,
        ratio_table,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    stage = _scratch("t37")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t37_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_partials(batch_df, batch_id: int) -> None:
        feat = batch_df.select(
            "doc_id",
            (F.col("lang") == "en").alias("__is_t"),
            F.explode(_hashed_features(F.col("text"), 128)).alias("bucket"),
        )
        sp.write_epoch(
            feat.groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("__is_t"), 1).otherwise(0))
                .cast("bigint")
                .alias("c_target"),
                F.count(F.lit(1)).cast("bigint").alias("c_raw"),
            ),
            os.path.join(sink, "counts"), batch_id
        )
        sp.write_epoch(
            feat.groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
            os.path.join(sink, "docbuckets"), batch_id
        )

    sp.drain(stream, land_partials, ck)

    counts = (
        sp.read_epochs(spark, os.path.join(sink, "counts"))
        .groupBy("bucket")
        .agg(
            F.sum("c_target").cast("bigint").alias("c_target"),
            F.sum("c_raw").cast("bigint").alias("c_raw"),
        )
    )
    ratios = ratio_table(counts, n_buckets=128)
    docbuckets = (
        sp.read_epochs(spark, os.path.join(sink, "docbuckets"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    return (
        docbuckets.join(F.broadcast(ratios.select("bucket", "w_fp")), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_feats"),
            F.sum(F.col("n") * F.col("w_fp")).alias("weight_fp"),
        )
    )


@q(
    "t38_stream_line_dedup",
    _ns.ORACLES["x2_line_dedup"],
)
def t38_stream_line_dedup(spark, sf_dir):
    """T38 — STREAMING keep-first line dedup (the incremental twin of
    x2_line_dedup): each micro-batch chunks ONLY its own documents
    (history is never re-chunked) and lands two linear partials —
    the batch's chunk stream (doc_id, cid, chunk) and a per-chunk
    FIRST-OCCURRENCE min-partial (chunk, min(struct(doc, pos))).
    Mins are associative, so serving min-merges the tiny first-store
    partials instead of re-ranking the occurrence history; kept
    occurrences are one equi-join of the merged stream against the
    merged first-store, then the per-doc rebuild. Keep-first is
    RETROACTIVE by definition (a later batch carrying a smaller
    (doc, pos) steals ownership and the earlier copy's doc text
    changes), which is exactly why the serve-time join is the right
    shape — ownership is decided at read time from the min-store,
    never frozen into history. Streamed ≡ batch bit-identically, so
    this entry carries x2_line_dedup's oracle verbatim."""
    from eco_pulse_lakehouse_spark.operators.dedup import doc_chunks

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    stage = _scratch("t38")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t38_out")
    sink, ck = os.path.join(base, "partials"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_partials(batch_df, batch_id: int) -> None:
        ch = doc_chunks(batch_df, "doc_id", "text", 3).select(
            "doc_id",
            F.col("__cid").alias("cid"),
            F.col("__chunk").alias("chunk"),
        )
        sp.write_epoch(ch, os.path.join(sink, "chunks"), batch_id)
        sp.write_epoch(
            ch.groupBy("chunk")
            .agg(F.min(F.struct("doc_id", "cid")).alias("first")),
            os.path.join(sink, "firsts"), batch_id
        )

    sp.drain(stream, land_partials, ck)

    firsts = (
        sp.read_epochs(spark, os.path.join(sink, "firsts"))
        .groupBy("chunk")
        .agg(F.min("first").alias("first"))
    )
    ch = sp.read_epochs(spark, os.path.join(sink, "chunks"))
    kept = (
        ch.join(firsts, "chunk")
        .filter(
            (F.col("first.doc_id") == F.col("doc_id"))
            & (F.col("first.cid") == F.col("cid"))
        )
        .select("doc_id", "cid", "chunk")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("cid", "chunk"))),
                lambda s: s.getField("chunk"),
            ),
        ).alias("__clean"),
    )
    base_counts = ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks")
    )
    return base_counts.join(rebuilt, "doc_id", "left").select(
        F.col("doc_id"),
        F.col("n_chunks"),
        (
            F.col("n_chunks")
            - F.coalesce(F.col("__n_kept"), F.lit(0)).cast("bigint")
        ).cast("bigint").alias("n_removed"),
        F.coalesce(F.col("__clean"), F.lit("")).alias("text_clean"),
    )


@q("t46_stream_unimax", _ns._UNIMAX_SQL)
def t46_stream_unimax(spark, sf_dir):
    """T46 — STREAMING mixture maintenance (the incremental twin of
    x6_unimax_mixture): documents stream one file per trigger; each
    batch featurizes its docs ONCE into (doc_id, lang, n_tokens)
    manifest rows — the identical token_count expression the batch
    operator uses — and lands them as an idempotent epoch-keyed
    parquet partial. Each doc's row is complete within its batch, so
    the merged manifest is a plain union ≡ the one-pass token table
    (the t37 linear-partials discipline). Re-balancing then runs the
    batch operator's own selection tree over the merged manifest
    (sampling.py:unimax_select_from_tokens — quota closed form +
    distributed per-language budget prefix): streamed ≡ batch
    bit-identically, and this entry carries x6_unimax_mixture's
    oracle verbatim. The 100 TB shape: ingest featurizes each doc
    once; when the corpus grows (or the budget/epoch knobs change)
    the recomputation touches ONLY the id/lang/count manifest — a
    language-sized quota table plus one range-partitioned running
    sum — never the text."""
    from eco_pulse_lakehouse_spark.functions.text import token_count
    from eco_pulse_lakehouse_spark.operators.sampling import (
        unimax_select_from_tokens,
    )

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang", "text"
    )
    stage = _scratch("t46")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t46_out")
    sink, ck = os.path.join(base, "manifest"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_manifest(batch_df, batch_id: int) -> None:
        sp.write_epoch(
            batch_df.select(
                "doc_id",
                "lang",
                token_count(F.col("text")).cast("bigint").alias("n_tokens"),
            ),
            sink, batch_id
        )

    sp.drain(stream, land_manifest, ck)

    manifest = sp.read_epochs(spark, sink)
    return unimax_select_from_tokens(
        manifest, "doc_id", "lang", token_budget=None, max_epochs=2,
        budget_num=3, budget_den=2,
    )


@q(
    "t47_stream_search_serving",
    _ns.ORACLES["flagship_search_serving"],
)
def t47_stream_search_serving(spark, sf_dir):
    """T47 — STREAMING keyword-search serving (the request twin of
    flagship_search_serving, completing the serve family the way
    t43 serves the dense RAG path): the postings index is built
    ONCE by the flagship's own stage (retrieval.py:term_postings)
    and pinned — the maintained artifact a search platform keeps
    current at ingest (t32_stream_bm25 is that ingest side) — and
    query REQUESTS stream in, one file per trigger. Each micro-batch
    runs the identical serve DAG (search_serving with the batch's
    queries and the pinned postings: PRF expansion → BM25 +
    term-overlap → RRF → token budget) and lands its queries'
    result rows as an idempotent epoch-keyed parquet partial. Every
    stage is per-query independent and each query lives in exactly
    ONE source file, so the partials are disjoint and union to the
    one-shot flagship result verbatim — this entry carries its
    oracle verbatim. 100 TB shape: per-request work is
    O(queries·k) against the pinned index; the corpus is never
    re-tokenized per request."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        term_postings,
    )
    from eco_pulse_lakehouse_spark.plans.search_serving import (
        search_serving,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    store = term_postings(d, "doc_id", "text").localCheckpoint(
        eager=True
    )  # the pinned index artifact
    # maintained stats triple next to the store (r14, ADVICE r13):
    # without it every request batch re-pinned dl/df_t — leaked
    # blocks + 2 eager jobs per batch in a long-lived serving loop
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        bm25_shared_stats,
    )

    shared_stats = bm25_shared_stats(store, "doc_id")

    req = local_frame(
        spark, _ns._BM25_QUERIES, "query_id long, query_text string"
    )
    stage = _scratch("t47")
    req.repartition(2).write.mode("overwrite").parquet(stage)

    base = _scratch("t47_out")
    sink, ck = os.path.join(base, "results"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, req.schema, max_files_per_trigger=1
    )

    def serve_requests(batch_df, batch_id: int) -> None:
        batch_queries = [
            (r.query_id, r.query_text) for r in batch_df.collect()
        ]
        if not batch_queries:
            return
        served = search_serving(
            d, batch_queries, postings=store,
            shared_stats=shared_stats,
        )
        sp.write_epoch(served, sink, batch_id)

    sp.drain(stream, serve_requests, ck)

    return sp.read_epochs(spark, sink).select(
        "query_id", "doc_id", "rrf_score", "rk", "n_tokens", "cum_tokens"
    )


@q(
    "t48_stream_winnowing",
    _ns.ORACLES["x2_winnowing_pairs"],
)
def t48_stream_winnowing(spark, sf_dir):
    """T48 — STREAMING winnowing-index maintenance (the ingest twin
    of x2_winnowing_pairs, the t45 discipline): documents stream one
    file per trigger; each batch computes its docs' fingerprints with
    the batch operator's own stage (dedup.py:winnowing_fingerprints —
    fingerprints are row-local, complete per doc) and lands them as
    idempotent epoch-keyed parquet partials, so the merged index is a
    plain union ≡ the one-shot index. Pairing then runs the identical
    fingerprint-keyed equi-join + shared-count stage over the merged
    index: streamed ≡ batch bit-identically, and this entry carries
    x2_winnowing_pairs' oracle verbatim. The 100 TB shape: ingest
    fingerprints each doc once (~2/(w+1) of its gram hashes stored);
    re-screening after growth joins the index, never re-tokenizes
    history."""
    from eco_pulse_lakehouse_spark.operators.dedup import (
        poly_token_hash,
        winnowing_fingerprints,
    )

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    stage = _scratch("t48")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t48_out")
    sink, ck = os.path.join(base, "index"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_fingerprints(batch_df, batch_id: int) -> None:
        fps = winnowing_fingerprints(
            batch_df, "doc_id", "text", k=3, w=4,
            token_hash=poly_token_hash,
        )
        sp.write_epoch(fps, sink, batch_id)

    sp.drain(stream, land_fingerprints, ck)

    fp = sp.read_epochs(spark, sink)
    a = fp.select(F.col("doc_id").alias("id_a"), "fp")
    b = fp.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@q(
    "t49_stream_hybrid_serving",
    _ns.ORACLES["flagship_hybrid_serving"],
)
def t49_stream_hybrid_serving(spark, sf_dir):
    """T49 — STREAMING hybrid keyword+dense serving (the request
    twin of flagship_hybrid_serving, completing the serve family
    next to t43/dense and t47/keyword): BOTH maintained artifacts —
    the postings index (retrieval.py:term_postings) and the int8
    vector store (plans/rag_context.py:int8_store) — are built ONCE
    by the flagship's own stages and pinned; query REQUESTS stream
    in, one file per trigger. Each micro-batch runs the identical
    hybrid DAG (plans/hybrid_serving.py with the batch's queries and
    both pinned stores: PRF-BM25 + int8-dot → cross-modality RRF →
    token budget) and lands its queries' rows as an idempotent
    epoch-keyed parquet partial. Every stage is per-query
    independent and each query lives in exactly ONE source file, so
    the partials are disjoint and union to the one-shot flagship
    result verbatim — this entry carries its oracle verbatim.
    100 TB shape: per-request work is O(queries·k) against two
    pinned indexes; neither the corpus nor the vector store is
    rebuilt per request."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        term_postings,
    )
    from eco_pulse_lakehouse_spark.plans.hybrid_serving import (
        hybrid_serving,
    )
    from eco_pulse_lakehouse_spark.plans.rag_context import int8_store

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    e = T(spark, sf_dir, "embeddings")
    postings = term_postings(d, "doc_id", "text").localCheckpoint(
        eager=True
    )  # pinned keyword index
    store = int8_store(e).localCheckpoint(eager=True)  # pinned vectors
    # the (dl, df_t, stats) triple is maintained ONCE next to the
    # postings store and passed per request batch (r14, ADVICE r13):
    # the per-batch serve otherwise re-pinned dl/df_t every batch —
    # leaked blocks + 2 eager jobs per batch in a long-lived loop
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        bm25_shared_stats,
    )

    shared_stats = bm25_shared_stats(postings, "doc_id")

    req = local_frame(
        spark, _ns._BM25_QUERIES, "query_id long, query_text string"
    )
    stage = _scratch("t49")
    req.repartition(2).write.mode("overwrite").parquet(stage)

    base = _scratch("t49_out")
    sink, ck = os.path.join(base, "results"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, req.schema, max_files_per_trigger=1
    )

    def serve_requests(batch_df, batch_id: int) -> None:
        batch_queries = [
            (r.query_id, r.query_text) for r in batch_df.collect()
        ]
        if not batch_queries:
            return
        served = hybrid_serving(
            d, e, batch_queries, postings=postings, quantized=store,
            shared_stats=shared_stats,
        )
        sp.write_epoch(served, sink, batch_id)

    sp.drain(stream, serve_requests, ck)

    return sp.read_epochs(spark, sink).select(
        "query_id", "doc_id", "rrf_score", "rk", "n_tokens", "cum_tokens"
    )


@q(
    "t50_stream_hybrid_index",
    _ns.ORACLES["flagship_hybrid_serving"],
)
def t50_stream_hybrid_index(spark, sf_dir):
    """T50 — STREAMING maintenance of BOTH hybrid-serving artifacts
    (the ingest side of the loop t49 serves): documents stream one
    file per trigger landing POSTINGS partials (doc_id, term, tf —
    complete per doc, the t32 discipline), and embeddings stream one
    file per trigger landing INT8-STORE partials (vec_id, q_vec,
    __n8 — quantization + norm are row-local, the t19 discipline).
    Each merged artifact is a plain union ≡ its one-shot build, so
    running the identical hybrid DAG (plans/hybrid_serving.py with
    both merged stores) answers the request batch EXACTLY like
    flagship #10 — this entry carries its oracle verbatim. The
    production loop closed: both indexes grow at ingest cost
    O(batch), history is never re-tokenized or re-quantized, and
    serving (t49) reads whatever version the two maintained
    artifacts are at."""
    from eco_pulse_lakehouse_spark.plans.hybrid_serving import (
        hybrid_serving,
    )
    from eco_pulse_lakehouse_spark.plans.rag_context import int8_store
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        term_postings,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    e = T(spark, sf_dir, "embeddings")
    base = _scratch("t50")

    # --- ingest pipeline 1: the keyword index ---
    d_stage = os.path.join(base, "docs_in")
    d.repartition(4).write.parquet(d_stage)
    d_sink = os.path.join(base, "postings")

    def land_postings(batch_df, batch_id: int) -> None:
        sp.write_epoch(
            term_postings(batch_df, "doc_id", "text"), d_sink, batch_id
        )

    stream = sp.read_file_stream(
        spark, d_stage, "doc_id BIGINT, text STRING", max_files_per_trigger=1
    )
    sp.drain(stream, land_postings, os.path.join(base, "ck1"))

    # --- ingest pipeline 2: the int8 vector store ---
    e_stage = os.path.join(base, "vecs_in")
    e.repartition(4).write.parquet(e_stage)
    e_sink = os.path.join(base, "store")

    def land_store(batch_df, batch_id: int) -> None:
        sp.write_epoch(
            int8_store(batch_df).select("vec_id", "q_vec", "__n8"),
            e_sink, batch_id
        )

    stream = sp.read_file_stream(
        spark, e_stage, e.schema, max_files_per_trigger=1
    )
    sp.drain(stream, land_store, os.path.join(base, "ck2"))

    postings = sp.read_epochs(spark, d_sink)
    store = sp.read_epochs(spark, e_sink)
    return hybrid_serving(
        d, e, _ns._BM25_QUERIES, postings=postings, quantized=store
    )


@q(
    "t51_stream_winnowing_clusters",
    _ns.ORACLES["x2_winnowing_clusters"],
)
def t51_stream_winnowing_clusters(spark, sf_dir):
    """T51 — STREAMING MOSS end state (the cluster tier over t48's
    maintained index, VERDICT r11 item 5): documents stream one file
    per trigger landing fingerprint partials (row-local, complete
    per doc — the t48 ingest stage verbatim); the merged index is a
    plain union ≡ the one-shot index, so running the identical
    downstream composition — fingerprint equi-join pairs →
    pointer-jumping connected components → keep-best-by-DSIR
    canonical (operators/selection.py:canonical_per_cluster) — over
    it reproduces x2_winnowing_clusters EXACTLY; this entry carries
    its oracle verbatim. The production shape: ingest fingerprints
    each doc once (~2/(w+1) of its gram hashes), re-CLUSTERING after
    corpus growth joins the maintained index and runs node-sized CC
    rounds — history is never re-tokenized."""
    from eco_pulse_lakehouse_spark.operators.dedup import (
        poly_token_hash,
        winnowing_fingerprints,
    )
    from eco_pulse_lakehouse_spark.operators.selection import (
        canonical_per_cluster,
    )

    d = T(spark, sf_dir, "documents")
    docs = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    stage = _scratch("t51")
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    base = _scratch("t51_out")
    sink, ck = os.path.join(base, "index"), os.path.join(base, "ck")

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )

    def land_fingerprints(batch_df, batch_id: int) -> None:
        fps = winnowing_fingerprints(
            batch_df, "doc_id", "text", k=3, w=4,
            token_hash=poly_token_hash,
        )
        sp.write_epoch(fps, sink, batch_id)

    sp.drain(stream, land_fingerprints, ck)

    fp = sp.read_epochs(spark, sink)
    a = fp.select(F.col("doc_id").alias("id_a"), "fp")
    b = fp.select(F.col("doc_id").alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
        .select("id_a", "id_b")
    )
    return canonical_per_cluster(d, pairs, F.col("lang") == "en")


@q(
    "t52_stream_hybrid_loop",
    _ns.ORACLES["flagship_hybrid_serving"],
)
def t52_stream_hybrid_loop(spark, sf_dir):
    """T52 — the hybrid serving loop END-TO-END, both sides streamed
    (VERDICT r11 item 6): documents and embeddings stream in landing
    the two maintained artifacts incrementally (postings partials +
    int8-store partials — the t50 ingest discipline), THEN query
    requests stream in and each micro-batch serves against the two
    MERGED artifacts (the t49 request discipline). Each merged
    artifact is a plain union ≡ its one-shot build and every serving
    stage is per-query independent, so the landed result partials
    union to flagship #10's output verbatim — this entry carries its
    oracle. This is the complete production loop flagship #10
    documents (plans/hybrid_serving.py "maintained artifacts"):
    ingest grows both indexes at O(batch), serving reads whatever
    version the artifacts are at, and neither side ever re-tokenizes
    or re-quantizes history."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        term_postings,
    )
    from eco_pulse_lakehouse_spark.plans.hybrid_serving import (
        hybrid_serving,
    )
    from eco_pulse_lakehouse_spark.plans.rag_context import int8_store

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    e = T(spark, sf_dir, "embeddings")
    base = _scratch("t52")

    # --- maintenance stream 1: the keyword index ---
    d_stage = os.path.join(base, "docs_in")
    d.repartition(4).write.parquet(d_stage)
    d_sink = os.path.join(base, "postings")

    def land_postings(batch_df, batch_id: int) -> None:
        sp.write_epoch(
            term_postings(batch_df, "doc_id", "text"), d_sink, batch_id
        )

    stream = sp.read_file_stream(
        spark, d_stage, "doc_id BIGINT, text STRING", max_files_per_trigger=1
    )
    sp.drain(stream, land_postings, os.path.join(base, "ck1"))

    # --- maintenance stream 2: the int8 vector store ---
    e_stage = os.path.join(base, "vecs_in")
    e.repartition(4).write.parquet(e_stage)
    e_sink = os.path.join(base, "store")

    def land_store(batch_df, batch_id: int) -> None:
        sp.write_epoch(
            int8_store(batch_df).select("vec_id", "q_vec", "__n8"),
            e_sink, batch_id
        )

    stream = sp.read_file_stream(
        spark, e_stage, e.schema, max_files_per_trigger=1
    )
    sp.drain(stream, land_store, os.path.join(base, "ck2"))

    # --- serving stream over the two MERGED maintained artifacts ---
    # pinned for the request loop (the t49 discipline: many request
    # batches, one materialization; persist() on a real cluster)
    postings = sp.read_epochs(spark, d_sink).localCheckpoint(eager=True)
    store = sp.read_epochs(spark, e_sink).localCheckpoint(eager=True)
    # maintained stats triple next to the merged postings (r14,
    # ADVICE r13): computed once for the whole request loop instead
    # of re-pinned per batch
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        bm25_shared_stats,
    )

    shared_stats = bm25_shared_stats(postings, "doc_id")

    req = local_frame(
        spark, _ns._BM25_QUERIES, "query_id long, query_text string"
    )
    r_stage = os.path.join(base, "requests_in")
    req.repartition(2).write.parquet(r_stage)
    r_sink = os.path.join(base, "results")

    def serve_requests(batch_df, batch_id: int) -> None:
        batch_queries = [
            (r.query_id, r.query_text) for r in batch_df.collect()
        ]
        if not batch_queries:
            return
        served = hybrid_serving(
            d, e, batch_queries, postings=postings, quantized=store,
            shared_stats=shared_stats,
        )
        sp.write_epoch(served, r_sink, batch_id)

    stream = sp.read_file_stream(
        spark, r_stage, req.schema, max_files_per_trigger=1
    )
    sp.drain(stream, serve_requests, os.path.join(base, "ck3"))

    return sp.read_epochs(spark, r_sink).select(
        "query_id", "doc_id", "rrf_score", "rk", "n_tokens", "cum_tokens"
    )


@q(
    "t53_stream_winnowing_incremental",
    _ns.ORACLES["x2_winnowing_clusters"],
)
def t53_stream_winnowing_incremental(spark, sf_dir):
    """T53 — INCREMENTAL winnowing-cluster maintenance (the t35
    quotient-CC discipline over the MOSS tier; t51's re-resolve-all
    composition replaced by per-batch affected-component relabeling):

    1. Each batch lands its fingerprint partial (t48 stage —
       fingerprints are row-local, DISTINCT (id, fp), complete per
       doc) as idempotent epoch-keyed parquet.
    2. New pairs = this batch's docs against the ACCUMULATED index:
       fp equi-join, countDistinct(fp) ≥ 2 per normalized pair.
       countDistinct makes same-batch pairs (discovered in both
       orientations of the full×batch join) count each shared
       fingerprint once, and every pair is complete in the batch of
       its later endpoint — so the union of per-batch pair sets IS
       winnowing_pairs' output.
    3. Label merge on AFFECTED components only
       (components.py:incremental_components_update — the root-graph
       quotient keeps per-batch relabel cost O(new pairs + touched
       memberships), independent of corpus size).
    4. Serving: the final label table plugs into
       canonical_per_cluster via its ``labels`` hook — the identical
       keep-best-by-DSIR stage, so this entry carries
       x2_winnowing_clusters' oracle verbatim.

    vs t51: t51 re-runs CC over the full merged index per resolve
    (simple, O(index) per resolve); t53 carries the label state so
    each batch pays only for what it touched — the unbounded-ingest
    shape. Both end states are identical."""
    from eco_pulse_lakehouse_spark.operators.selection import (
        canonical_per_cluster,
    )

    d = T(spark, sf_dir, "documents")
    docs = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    base = _scratch("t53")
    stage = os.path.join(base, "docs")
    docs.repartition(4).write.parquet(stage)

    idx_root = os.path.join(base, "index")
    state_root = os.path.join(base, "state")

    def fold(batch_df, batch_id: int) -> None:
        from eco_pulse_lakehouse_spark.operators.components import (
            incremental_components_update,
        )
        from eco_pulse_lakehouse_spark.operators.dedup import (
            poly_token_hash,
            winnowing_fingerprints,
        )

        sp_ = batch_df.sparkSession
        fps = winnowing_fingerprints(
            batch_df, "doc_id", "text", k=3, w=4,
            token_hash=poly_token_hash,
        )
        sp.write_epoch(fps, idx_root, batch_id)

        full = sp.read_epochs(sp_, idx_root, before=batch_id + 1)
        bat = sp.read_last_epoch(sp_, idx_root, fps.schema, batch_id + 1)
        new_pairs = (
            full.select(F.col("doc_id").alias("__ia"), "fp")
            .join(bat.select(F.col("doc_id").alias("__ib"), "fp"), "fp")
            .filter(F.col("__ia") != F.col("__ib"))
            .select(
                F.least("__ia", "__ib").alias("id_a"),
                F.greatest("__ia", "__ib").alias("id_b"),
                "fp",
            )
            .groupBy("id_a", "id_b")
            .agg(F.countDistinct("fp").alias("__n"))
            .filter(F.col("__n") >= 2)
            .select("id_a", "id_b")
        )

        prior = sp.read_last_epoch(sp_, state_root, _LABELS, before=batch_id)
        sp.write_epoch(
            incremental_components_update(prior, new_pairs),
            state_root, batch_id
        )

    stream = sp.read_file_stream(
        spark, stage, docs.schema, max_files_per_trigger=1
    )
    sp.drain(stream, fold, os.path.join(base, "ck"))

    labels = sp.read_last_epoch(spark, state_root, _LABELS)
    return canonical_per_cluster(
        d, None, F.col("lang") == "en", labels=labels
    )
