"""Custom stateful streaming operators — applyInPandasWithState and
the foreachBatch upsert sink (SURVEY.md §2.9 T6-T8 depth).

``applyInPandasWithState`` is the escape hatch when built-in
watermark/window/dedup state can't express the semantics: state is
an explicit per-key object the operator owns (here: running totals
surviving across micro-batches), with timeout-based eviction bounding
it — the knob that keeps 100 TB streams from accumulating unbounded
state.

``foreach_batch_upsert`` is the streaming-native form of the
reference's gold loop: each micro-batch MERGEs into the target
(operators/merge.py) instead of overwriting the world
(gold_batch_job.py:83-101).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from eco_pulse_lakehouse_spark.streaming.pipeline import drain, write_epoch


def running_totals_stream(
    events: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """Per-user running (count, sum) maintained as explicit group
    state across micro-batches. Emits one row per key per batch.

    Input schema: user_id BIGINT, value DOUBLE (a stream).

    ``ttl_ms`` arms a processing-time timeout: a key that receives no
    data for that long is evicted on the next micro-batch — the knob
    that keeps a 100 TB stream from accumulating one state row per
    ever-seen key forever. ``None`` keeps state indefinitely (only
    for bounded key domains). Eviction is silent (no tombstone row);
    a later event for an evicted key restarts its totals from zero
    (pinned by tests/test_stateful_streaming.py).
    """

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {"user_id": [user_id], "n": [n], "total": [total]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, n BIGINT, total DOUBLE",
        stateStructType="n BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=timeout,
    )


def reassemble_stream(
    chunks: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """Streaming chunked-page reassembly (the streaming inverse of
    operators/multimodal.py:chunk_payloads): pages of a multimodal
    payload arrive across micro-batches, in any order, possibly
    duplicated (Kafka redelivery); a doc is emitted exactly once,
    when its last missing page arrives, and its state is dropped in
    the same transition.

    Input : doc_id BIGINT, page_idx INT, page BINARY, n_pages INT.
    Output: doc_id BIGINT, payload BINARY — complete docs only.

    Per-key state is the accumulated page set — O(payload) per
    IN-FLIGHT doc only: completed docs free their state immediately,
    so steady-state memory is bounded by the reassembly window, not
    the stream length. ``ttl_ms`` arms a processing-time timeout that
    evicts docs whose remaining pages never arrive (producer died
    mid-payload) — without it a single truncated upload pins its
    pages forever. Duplicate pages are idempotent (keyed by
    page_idx)."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (doc_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            idxs, pages, n_pages = state.get
            got = dict(zip(idxs, pages))
        else:
            got, n_pages = {}, None
        for pdf in pdfs:
            for idx, page, np_ in zip(
                pdf["page_idx"], pdf["page"], pdf["n_pages"]
            ):
                got[int(idx)] = bytes(page)
                n_pages = int(np_)
        if n_pages is not None and len(got) == n_pages:
            payload = b"".join(got[i] for i in range(n_pages))
            state.remove()
            yield pd.DataFrame(
                {"doc_id": [doc_id], "payload": [payload]}
            )
            return
        state.update((list(got.keys()), list(got.values()), n_pages))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return chunks.groupBy("doc_id").applyInPandasWithState(
        update,
        outputStructType="doc_id BIGINT, payload BINARY",
        stateStructType=(
            "idxs ARRAY<INT>, pages ARRAY<BINARY>, n_pages INT"
        ),
        outputMode="append",
        timeoutConf=timeout,
    )


def session_windows(
    events: DataFrame, ts_col: str, key_cols: list[str], gap: str = "30 minutes"
) -> DataFrame:
    """Event-time session windows (dynamic gap-merged, the built-in
    form of w7's batch sessionize). Works on batch and streaming
    frames; streaming needs a watermark upstream."""
    return (
        events.groupBy(F.session_window(F.col(ts_col), gap), *key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("session_window.start").alias("session_start"),
            *key_cols,
            "n",
        )
    )


def foreach_batch_upsert(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    partition_col: str | None = None,
):
    """Streaming MERGE sink: each micro-batch upserts into the parquet
    target (Delta MERGE is the transactional upgrade when delta-spark
    is present).

    Semantics: at-least-once with idempotent-by-key replay — the
    checkpoint dedups source offsets, and re-running a batch converges
    because the upsert is keyed.

    Write path, by scale:

    * ``partition_col`` set (the 100 TB shape): the target is
      partitioned on it and each batch reads + dynamically overwrites
      ONLY the partitions present in the batch — O(batch partitions)
      read and write. A crash mid-commit can lose touched partitions
      (replay repairs); untouched partitions are never rewritten.
    * ``partition_col=None`` (small reference tables): full rewrite via
      a staging directory + rename swap, so a crash never leaves the
      target deleted — worst case the previous table survives at
      ``<target>.__old`` and the swap is re-run on replay.

    Drains the stream (streaming/pipeline.py:drain) and returns the
    finished query.
    """
    from eco_pulse_lakehouse_spark.operators.merge import upsert

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        import os
        import shutil

        spark = batch_df.sparkSession
        exists = os.path.exists(target_path)
        if partition_col is not None:
            batch = batch_df
            if exists:
                touched = [
                    r[0]
                    for r in batch.select(partition_col).distinct().collect()
                ]
                current = spark.read.parquet(target_path).filter(
                    F.col(partition_col).isin(touched)
                )
                merged = upsert(current, batch, keys)
            else:
                merged = batch
            staged = merged.localCheckpoint(eager=True)
            (
                staged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(target_path)
            )
            return

        # Unpartitioned fallback: stage to a sibling dir (no
        # read-write-same-path hazard, no lineage pin needed), then
        # swap via two metadata renames.
        if exists:
            current = spark.read.parquet(target_path)
            merged = upsert(current, batch_df, keys)
        else:
            merged = batch_df
        staging = f"{target_path}.__staging"
        backup = f"{target_path}.__old"
        shutil.rmtree(staging, ignore_errors=True)
        merged.write.mode("overwrite").parquet(staging)
        shutil.rmtree(backup, ignore_errors=True)
        if exists:
            os.rename(target_path, backup)
        os.rename(staging, target_path)
        shutil.rmtree(backup, ignore_errors=True)

    return drain(stream, sink, checkpoint)


def foreach_batch_fanout(
    stream: DataFrame,
    detail_path: str,
    metrics_path: str,
    checkpoint: str,
    value_col: str = "value",
):
    """One stream, TWO sinks per micro-batch (foreachBatch fan-out):
    append the detail rows AND a per-batch metrics row (count +
    quantized value sum) — the bronze+observability shape every
    ingest pipeline ends up needing.

    foreachBatch gives no transactional guarantee across two writes,
    so exactly-once is recovered by construction: each sink lands its
    batch as the partial ``epoch=<id>`` with overwrite
    (streaming/pipeline.py:write_epoch) — a replayed batch (crash
    between the two writes, speculative rerun) REWRITES the same
    directories instead of appending duplicates.
    Idempotence holds per-epoch regardless of which write crashed;
    the checkpoint dedups source offsets across restarts. The batch
    is persisted so the two sinks share one source scan, not two.

    The metrics sum is 1e-3 fixed-point BIGINT — integer partial
    aggregation, reproducible under any partial-agg order (a float
    sum would drift in the last ulp between replays, making
    "idempotent replay" quietly false for the metrics sink).
    Drains the stream (streaming/pipeline.py:drain) and returns the
    finished query."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        b = batch_df.persist()
        write_epoch(b, detail_path, epoch_id)
        write_epoch(
            b.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(
                    F.sum(
                        F.floor(F.col(value_col) * 1000).cast("long")
                    ),
                    F.lit(0).cast("long"),
                ).alias("value_sum_fp"),
            )
            .withColumn("epoch", F.lit(epoch_id).cast("long")),
            metrics_path, epoch_id
        )
        b.unpersist()

    return drain(stream, sink, checkpoint)


def running_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running (count, fixed-point sum) via
    ``transformWithStateInPandas`` — Spark 4's arbitrary-state v2 API
    (StatefulProcessor + typed state handles), the successor to
    :func:`running_totals_stream`'s applyInPandasWithState form. The
    engine certifies BOTH: v2 is where new state features land
    (typed value/list/map state, timers, TTL config per state var),
    while the v1 form remains for compatibility.

    Exactness: the accumulated sum is fixed-point BIGINT (value
    pre-scaled by the caller's projection), so the final per-key
    state is addition-order-independent — a batch GROUP BY is its
    exact oracle. Emits one row per key per micro-batch (Update
    mode); the count is strictly monotone per key, so the FINAL
    state row per key is the max-n row.

    ENVIRONMENT-GATED: the v2 state
    protocol runs a Python state server speaking protobuf to the
    JVM, and this image has no ``google.protobuf``
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE: cannot import
    'descriptor' — verified 2026-08-14, installs disallowed). The
    operator is complete and covered by a skipping pytest
    (tests/test_stateful_streaming.py) that lights up the moment
    protobuf lands; running_totals_stream (v1) carries the certified
    streaming-state semantics meanwhile.

    Input schema: user_id BIGINT, v_fp BIGINT (a stream).
    """
    from pyspark.sql.streaming import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, total_fp BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._totals.exists():
                n, total_fp = self._totals.get()
            else:
                n, total_fp = 0, 0
            for pdf in rows:
                n += len(pdf)
                total_fp += int(pdf["v_fp"].sum())
            self._totals.update((n, total_fp))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "total_fp": [total_fp]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id BIGINT, n BIGINT, total_fp BIGINT",
        outputMode="Update",
        timeMode="None",
    )
