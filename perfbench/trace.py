"""Per-span stage records, read from Spark's own status store.

A span is one call the benchmark makes into a public function of one
engine module. With tracing on, the call runs under a Spark job group
named after the span; afterwards the span's jobs come from
``statusTracker().getJobIdsForGroup`` and each stage's counters from
``statusStore().lastStageAttempt``. Streaming micro-batches run under
their query's own job group (its ``runId``), so the silver-drain span
reads those groups instead. Records stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import statistics
import time

SPAN_FIELDS = (
    "wall_ms", "jobs", "stages", "tasks", "executor_cpu_ms", "shuffle_bytes",
    "spill_bytes", "output_bytes", "job_floor_share", "core_busy_frac",
)
FIELD_UNITS = {
    "wall_ms": "ms", "jobs": "count", "stages": "count", "tasks": "count",
    "executor_cpu_ms": "ms", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "output_bytes": "bytes", "job_floor_share": "ratio", "core_busy_frac": "ratio",
}
STREAM_FIELDS = {
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes", "streaming.late_drop_rows": "count",
    "streaming.dup_drop_frac": "ratio",
}


def job_floor_ms(spark, n: int = 9) -> float:
    """Median wall time of a trivial one-task job on this session."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).collect()
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


class Tracer:
    """Collects span records: ``records[span]`` is a list of per-call dicts."""

    def __init__(self, cores: int, enabled: bool):
        self.enabled = enabled
        self.cores = cores
        self.records: dict[str, list[dict]] = {}
        self.stream_records: list[dict] = []
        self._calls = 0
        self._seen: dict[str, set] = {}
        self._batch_seen: dict[str, int] = {}

    def bind(self, spark) -> None:
        """Attach to a (re)started session."""
        self.spark = spark
        self.sc = spark.sparkContext
        self._seen.clear()
        self._batch_seen.clear()

    @contextlib.contextmanager
    def span(self, name: str, queries=()):
        """Time one call into ``name``. ``queries``: streaming queries
        whose micro-batches this call drives (their jobs carry the
        query's job group, not ours)."""
        if not self.enabled:
            yield
            return
        self._calls += 1
        group = f"{name}#{self._calls}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall_ms = (time.perf_counter() - t0) * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            groups = [group] + [str(q.runId) for q in queries]
            self.records.setdefault(name, []).append(self._read(groups, wall_ms))

    def _read(self, groups: list[str], wall_ms: float) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        job_ids = []
        for g in groups:
            ids = set(tracker.getJobIdsForGroup(g))
            seen = self._seen.setdefault(g, set())
            job_ids.extend(sorted(ids - seen))
            seen |= ids
        rec = {"wall_ms": wall_ms, "jobs": len(job_ids), "stages": 0, "tasks": 0,
               "run_ms": 0.0, "executor_cpu_ms": 0.0, "shuffle_bytes": 0,
               "spill_bytes": 0, "output_bytes": 0}
        stage_ids = set()
        for j in job_ids:
            sids = store.job(j).stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.length()))
        for s in stage_ids:
            sd = store.lastStageAttempt(s)
            if sd.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            rec["run_ms"] += sd.executorRunTime()
            rec["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            rec["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            rec["spill_bytes"] += sd.diskBytesSpilled()
            rec["output_bytes"] += sd.outputBytes()
        return rec

    def sync(self, queries) -> None:
        """Mark the queries' jobs and batches so far as seen, so an
        untraced op's micro-batches are not charged to the next span."""
        if not queries:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for q in queries:
            self._seen.setdefault(str(q.runId), set()).update(
                tracker.getJobIdsForGroup(str(q.runId))
            )
            ids = [p["batchId"] for p in q.recentProgress]
            if ids:
                self._batch_seen[str(q.id)] = max(ids)

    def stream_progress(self, queries) -> None:
        """Fold the micro-batches the last op ran into one record."""
        if not self.enabled:
            return
        agg = {k: 0.0 for k in STREAM_FIELDS}
        rows_in = dropped = 0
        for q in queries:
            key = str(q.id)
            last = self._batch_seen.get(key, -1)
            new = [p for p in q.recentProgress if p["batchId"] > last]
            for p in new:
                dur = p.get("durationMs", {})
                agg["streaming.add_batch_ms"] += dur.get("addBatch", 0)
                agg["streaming.wal_commit_ms"] += dur.get("walCommit", 0)
                n_in = p.get("numInputRows", 0)
                late = inserted = 0
                for op in p.get("stateOperators", []):
                    agg["streaming.state_commit_ms"] += op.get("commitTimeMs", 0)
                    late += op.get("numRowsDroppedByWatermark", 0)
                    inserted += op.get("numRowsUpdated", 0)
                agg["streaming.late_drop_rows"] += late
                rows_in += n_in
                dropped += n_in - late - inserted
                self._batch_seen[key] = max(self._batch_seen.get(key, -1), p["batchId"])
            if new:
                ops = new[-1].get("stateOperators", [])
                agg["streaming.state_rows"] += sum(o.get("numRowsTotal", 0) for o in ops)
                agg["streaming.state_bytes"] += sum(o.get("memoryUsedBytes", 0) for o in ops)
        agg["streaming.dup_drop_frac"] = dropped / rows_in if rows_in else 0.0
        self.stream_records.append(agg)

    def summary(self, floor_ms: float) -> dict[str, float]:
        """Per-span medians over calls, plus the derived ratios."""
        out = {}
        for name, recs in self.records.items():
            for r in recs:
                r["job_floor_share"] = r["jobs"] * floor_ms / r["wall_ms"]
                r["core_busy_frac"] = r["run_ms"] / (r["wall_ms"] * self.cores)
            for f in SPAN_FIELDS:
                out[f"{name}.{f}"] = statistics.median(r[f] for r in recs)
        for k in STREAM_FIELDS:
            if self.stream_records:
                out[k] = statistics.median(r[k] for r in self.stream_records)
        return out

    def count_spread(self) -> dict[str, tuple]:
        """(min, max) of jobs/stages/tasks per span, to show they repeat."""
        return {
            f"{name}.{f}": (min(r[f] for r in recs), max(r[f] for r in recs))
            for name, recs in self.records.items()
            for f in ("jobs", "stages", "tasks")
        }
