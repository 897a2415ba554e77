"""Bronze → silver streaming pipeline, Spark-first.

Reference semantics (``fire_risk_processor.py``): Kafka JSON →
from_json(schema) → flatten → processed_at → append to silver with
checkpointing (T1-T3). The reference *claims* watermark-based
deduplication (README.MD:70) but implements none (SURVEY.md §4.3 —
replays re-append); this module closes T4/T5 with
``withWatermark + dropDuplicates`` so replayed events are dropped
and silver is effectively exactly-once.

Tests and the streaming corpus drive these with file sources and
``availableNow`` triggers (no Kafka needed): a Kafka source is the
same DataFrame in, DataFrame out. This module owns the drain policy
for those hermetic streams — ``drain`` (foreachBatch),
``run_to_parquet`` and ``run_to_memory`` are the only places that
set a trigger and wait for a query.

Scale notes: stateful dedup keeps one state row per key inside the
watermark horizon — key the dedup on a compact natural key and keep
the watermark tight (10 min here). Windowed aggs emit finalized
windows on watermark advance (append mode) — no unbounded state.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: str | StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source (the hermetic stand-in for Kafka
    S1 — same unbounded-append semantics, one file ≈ one batch).
    ``max_files_per_trigger`` throttles ingestion so an availableNow
    drain runs MULTIPLE micro-batches — the back-pressure knob, and
    the hermetic way to exercise cross-batch state."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def parse_json_envelope(raw: DataFrame, value_col: str, schema: str) -> DataFrame:
    """S2 — cast value to string, from_json with explicit schema,
    flatten (fire_risk_processor.py:56-57). Malformed rows become
    all-NULL structs (PERMISSIVE), preserved as-built."""
    return raw.withColumn(
        "data", F.from_json(F.col(value_col).cast("string"), schema)
    ).select("data.*")


def to_silver(
    events: DataFrame,
    ts_col: str,
    dedup_keys: list[str],
    watermark: str = "10 minutes",
    with_processed_at: bool = True,
) -> DataFrame:
    """Cleansed silver stream: event-time watermark + keyed dedup
    (T4+T5, the gap the reference claims but doesn't implement) +
    processing-time audit column (fire_risk_processor.py:65-66)."""
    out = events.withWatermark(ts_col, watermark).dropDuplicates(dedup_keys)
    if with_processed_at:
        out = out.withColumn("processed_at", F.current_timestamp())
    return out


def windowed_counts(
    events: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    group_cols: list[str] | None = None,
    watermark: str | None = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """T6 — tumbling (or, with ``slide``, overlapping sliding)
    event-time window aggregation. A sliding window assigns each
    event to window/slide windows — state and shuffle grow by that
    factor, which is why the slide should not be much finer than the
    window at scale."""
    src = events.withWatermark(ts_col, watermark) if watermark else events
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    keys = [win.alias("win")] + [F.col(c) for c in (group_cols or [])]
    return src.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


@contextlib.contextmanager
def _scoped_state_partitions(spark, n: int | None):
    """Pin ``spark.sql.shuffle.partitions`` while a streaming query
    STARTS (the stateful-operator partition count is captured into
    the checkpoint at first start and kept for the query's life).

    Streaming state partitioning is a first-class sizing decision,
    separate from the batch shuffle default: every state partition
    pays fixed per-batch costs (state store open, delta-file commit,
    snapshot maintenance, one sink file), so a small-state stream
    under the 32-partition batch default spends more time committing
    32 near-empty stores than deduplicating (profiled: the t5 drain
    at sf0.1 drops 2.5 s → 1.2 s at 8 partitions — the round-2
    bench-regression root cause). Size it like a production job: aim
    for state partitions that hold ~10⁵-10⁶ state rows each, scaling
    UP for 100 TB streams, not inheriting whatever batch used."""
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory(
    df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming frame synchronously into the memory sink and
    return the result table (hermetic test harness; the guide's
    processAllAvailable pattern)."""
    with _scoped_state_partitions(df.sparkSession, state_partitions):
        _run_available(
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
        )
    return df.sparkSession.table(query_name)


def run_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str | None = None,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> None:
    """S3 analogue — checkpointed append file sink (Delta in the
    reference, parquet here). Re-running with the same
    checkpoint is a no-op for already-committed source files —
    exactly-once to the sink (T2). ``state_partitions`` sizes the
    stateful-operator partitioning (see _scoped_state_partitions)."""
    checkpoint = checkpoint or os.path.join(
        tempfile.gettempdir(), f"eco_pulse_ckpt_{uuid.uuid4().hex}"
    )
    with _scoped_state_partitions(df.sparkSession, state_partitions):
        _run_available(
            df.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .outputMode(output_mode)
        )


def drain(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> StreamingQuery:
    """Run ``fn(batch_df, batch_id)`` on every micro-batch of
    ``stream`` until the source has nothing left, and return the
    finished query.

    The drain policy of every hermetic foreachBatch loop: an
    ``availableNow`` trigger processes everything the source holds
    at start, honouring ``maxFilesPerTrigger`` — so a file source
    read with ``max_files_per_trigger=1`` delivers one committed
    file per batch, in commit order, with batch ids 0, 1, ... The
    checkpoint records committed batches: draining again with the
    same checkpoint and no new files runs no batch, and a batch that
    failed mid-way is replayed under the SAME id — which is why the
    batch bodies key their outputs on it (``batch=<id>`` /
    ``epoch=<id>`` overwrite)."""
    return _run_available(
        stream.writeStream.foreachBatch(fn).option(
            "checkpointLocation", checkpoint
        )
    )


def _run_available(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` under an ``availableNow`` trigger and block
    until the query has processed all available input."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def chained_window_rollup(
    events: DataFrame,
    ts_col: str,
    small: str = "10 minutes",
    large: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Two CHAINED stateful window aggregations in one streaming
    query: fine-grained tumbling counts, re-aggregated into coarse
    windows (``window(window_col, large)`` over the first window
    struct) — the Spark-4 multiple-stateful-operators surface
    (watermark propagates through the first aggregation).

    The pre-aggregation is the scale lever: the second stage's state
    holds one row per SMALL window, not per event, so a 100 TB
    stream rolls up through a few-KB second stage. Append-only
    emission: a window row is final once the watermark passes its
    end — the downstream sink never sees retractions.
    """
    fine = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), small).alias("w_small"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        fine.groupBy(F.window(F.col("w_small"), large).alias("w_large"))
        .agg(F.sum("n").alias("n"))
    )
