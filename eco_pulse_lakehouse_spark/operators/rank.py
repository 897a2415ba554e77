"""Distributed total-order ranking — the scale path for global
row_number (SURVEY.md §2.6 O2 at 100 TB).

A window with no PARTITION BY collapses to one task; the distributed
form is the classic two-pass composition:

  1. repartitionByRange on the full (totally-ordered, tiebroken)
     sort key — range partition p holds rows strictly before p+1;
  2. count rows per partition (tiny driver-side collect: one long
     per partition) and prefix-sum the offsets;
  3. local row_number per partition (Window.partitionBy(pid) —
     parallel, no global shuffle point) + broadcast offset.

Cost: one range shuffle + one count pass — no single-reducer stage
anywhere. Result is identical to the single-partition window as long
as the order is total (callers must include a unique tiebreak).

The same composition generalizes from row numbers to any
prefix-associative aggregate: :func:`global_running_sum` swaps the
per-partition COUNT for per-partition SUMS and the local row_number
for a local running-sum window — cumulative totals over a global
order with no single-partition stage (used by the exact KS drift
statistic's CDF construction, operators/anomaly.py:ks_statistic).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.session import local_frame, pin

_PID = "__pid"
_LOCAL = "__local_rn"


def global_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Total-order row_number without a single-partition window.

    ``order_by`` must be a TOTAL order (unique tiebreak included) —
    the same requirement the one-partition form has for determinism,
    here it also guarantees the range/local composition is exact.
    """
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    ranged = df.repartitionByRange(int(n), *order_by).withColumn(
        _PID, F.spark_partition_id()
    )
    # repartitionByRange SAMPLES boundaries per execution — the counts
    # pass and the ranking pass must see the SAME partitioning, so pin
    # the partitioned data.
    ranged = pin(ranged)
    # one long per partition to the driver — O(partitions), not O(rows)
    counts = {
        r[_PID]: r["cnt"]
        for r in ranged.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    # broadcast-join the offsets (a when-chain would be an
    # O(partitions)-deep expression tree — pathological at cluster
    # partition counts)
    off_df = local_frame(
        df.sparkSession, offsets, f"{_PID} INT, __offset LONG"
    )
    w = Window.partitionBy(_PID).orderBy(*order_by)
    return (
        ranged.withColumn(_LOCAL, F.row_number().over(w))
        .join(F.broadcast(off_df), _PID)
        .withColumn(out_col, (F.col("__offset") + F.col(_LOCAL)).cast("long"))
        .drop(_PID, _LOCAL, "__offset")
    )


def global_running_sum(
    df: DataFrame,
    order_by: Sequence[Column],
    sum_cols: Sequence[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Running TOTALS over a global order without a single-partition
    window — the cumulative-sum twin of :func:`global_row_number`:
    range partition on the (total) order, per-partition running sums
    via a partition-local window, plus broadcast per-partition prefix
    offsets (one row of partial sums per partition to the driver —
    O(partitions), not O(rows)). Adds ``run_<col>`` for each of
    ``sum_cols``; the order must include a unique tiebreak for the
    result to be deterministic (same contract as global_row_number).
    Sums accumulate in BIGINT — callers needing wider accumulators
    cast before calling."""
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    ranged = df.repartitionByRange(int(n), *order_by).withColumn(
        _PID, F.spark_partition_id()
    )
    ranged = pin(ranged)
    totals = (
        ranged.groupBy(_PID)
        .agg(*[F.sum(c).cast("long").alias(c) for c in sum_cols])
        .collect()
    )
    acc = dict.fromkeys(sum_cols, 0)
    offsets = []
    for r in sorted(totals, key=lambda r: r[_PID]):
        offsets.append((r[_PID], *[acc[c] for c in sum_cols]))
        for c in sum_cols:
            acc[c] += r[c] or 0
    off_schema = ", ".join([f"{_PID} INT"] + [f"__off_{c} LONG" for c in sum_cols])
    off_df = local_frame(df.sparkSession, offsets, off_schema)
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged
    for c in sum_cols:
        out = out.withColumn(f"run_{c}", F.sum(c).over(w).cast("long"))
    out = out.join(F.broadcast(off_df), _PID)
    for c in sum_cols:
        out = out.withColumn(
            f"run_{c}", F.col(f"run_{c}") + F.col(f"__off_{c}")
        ).drop(f"__off_{c}")
    return out.drop(_PID)
