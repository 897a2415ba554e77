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
set a trigger and wait for a query. It also owns the epoch sink that
foreachBatch bodies land per-batch partials in: ``write_epoch``,
``list_epochs``, and the readers ``read_epochs`` (the union) and
``read_last_epoch`` (a fold's carried state), which read with the
schema in the partials' parquet footers — no inference job, no glob.

Scale notes: stateful dedup keeps one state row per key inside the
watermark horizon — key the dedup on a compact natural key and keep
the watermark tight (10 min here). Windowed aggs emit finalized
windows on watermark advance (append mode) — no unbounded state.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from eco_pulse_lakehouse_spark.session import local_frame


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
    checkpoint: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> None:
    """S3 analogue — checkpointed append file sink (Delta in the
    reference, parquet here). Re-running with the same
    checkpoint is a no-op for already-committed source files —
    exactly-once to the sink (T2). ``state_partitions`` sizes the
    stateful-operator partitioning (see _scoped_state_partitions)."""
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
    batch bodies land their outputs with ``write_epoch``, keyed on
    it."""
    return _run_available(
        stream.writeStream.foreachBatch(fn).option(
            "checkpointLocation", checkpoint
        )
    )


def write_epoch(df: DataFrame, root: str, epoch_id: int) -> None:
    """Land ``df`` as the partial ``root/epoch=<epoch_id>``, with
    overwrite: a replayed batch rewrites its own partial instead of
    appending a duplicate."""
    df.write.mode("overwrite").parquet(
        os.path.join(root, f"epoch={epoch_id}")
    )


def list_epochs(root: str, before: int | None = None) -> list[int]:
    """Sorted numeric ids ``n < before`` (all when ``before`` is None)
    of the partials under ``root``; none for a missing root. Entries
    that are not ``epoch=<digits>`` — a Spark temporary or _committed
    dir landing under the root — are skipped, not raised on inside
    foreachBatch."""
    names = os.listdir(root) if os.path.isdir(root) else []
    ms = (re.fullmatch(r"epoch=([0-9]+)", n) for n in names)
    ids = (int(m.group(1)) for m in ms if m)
    return sorted(e for e in ids if before is None or e < before)


def read_epochs(
    spark: SparkSession, root: str, before: int | None = None
) -> DataFrame:
    """The union of the partials ``root/epoch=<n>`` with ``n < before``
    (all of them when ``before`` is None). Raises FileNotFoundError
    when there is none: a serve-side read always follows a drain that
    landed at least one batch."""
    ids = list_epochs(root, before)
    if not ids:
        raise FileNotFoundError(f"no epoch partial under {root}")
    return _read_partials(spark, root, ids)


def read_last_epoch(
    spark: SparkSession,
    root: str,
    schema: str | StructType,
    before: int | None = None,
) -> DataFrame:
    """The carried state of an epoch-keyed fold: the latest partial
    ``root/epoch=<n>`` with ``n < before`` (the last one when
    ``before`` is None), or an empty ``schema`` frame when there is
    none. A batch passes its own id as ``before``, so a replayed
    batch reads the same predecessor state as its first attempt and
    never its own partial."""
    ids = list_epochs(root, before)
    if not ids:
        return local_frame(spark, [], schema)
    return _read_partials(spark, root, ids[-1:])


def _read_partials(
    spark: SparkSession, root: str, ids: list[int]
) -> DataFrame:
    """Read the partial directories of ``ids`` with the Spark schema
    the writer recorded in the first one's parquet footer (every
    partial holds at least one part file, an empty batch included).
    Known schema and explicit leaf directories: no footer-inference
    job, no partition column, and no ``_spark_metadata`` probe."""
    dirs = [os.path.join(root, f"epoch={e}") for e in ids]
    part = min(f for f in os.listdir(dirs[0]) if f.endswith(".parquet"))
    footer = pq.read_schema(os.path.join(dirs[0], part)).metadata
    schema = StructType.fromJson(
        json.loads(footer[b"org.apache.spark.sql.parquet.row.metadata"])
    )
    return spark.read.schema(schema).parquet(*dirs)


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
