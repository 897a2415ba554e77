"""Batch source/sink helpers — ORC, partitioned and bucketed layout,
small-file compaction.

The reference claims time/spatial partitioning (README.MD:73) but
writes unpartitioned (fire_risk_processor.py:76-85 — SURVEY.md §4.3).
``write_partitioned`` closes that gap: hive-style directory
partitioning so equality/range filters on the partition columns
prune entire directories at planning time — at 100 TB the difference
between scanning a day and scanning three years.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """S12 — ORC source (native in Spark, columnar like parquet:
    predicate pushdown + column pruning apply identically). Avro is
    NOT available here: spark-avro is an external module and this
    image has no jar and disallows installs — gate any avro path on
    a format probe."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str], fmt: str = "parquet"
) -> None:
    """Partitioned overwrite. Choose low-cardinality, filter-bearing
    columns (event_date, region); never high-cardinality keys (one
    directory per value)."""
    (
        df.write.format(fmt)
        .mode("overwrite")
        .partitionBy(*partition_cols)
        .save(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 16,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Bucketed managed table: co-locates join/agg keys at write time
    so later equi-joins on the bucket columns skip the shuffle
    entirely (needs a warehouse dir; used in plan tests).

    Drops any stale table AND its warehouse location first — the
    in-memory catalog forgets tables across sessions while the
    directory survives, which LOCATION_ALREADY_EXISTS rejects."""
    import os
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    if wh:
        # default-db tables live at <wh>/<name>, database-qualified
        # ones at <wh>/<db>.db/<name>
        if "." in table:
            db, name = table.split(".", 1)
            loc = os.path.join(wh, f"{db}.db", name)
        else:
            loc = os.path.join(wh, table)
        shutil.rmtree(loc, ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def compact_files(
    spark: SparkSession, path: str, target_files: int
) -> tuple[int, int]:
    """Small-file compaction — the lakehouse maintenance op (Delta
    OPTIMIZE, expressed at the parquet layer). Streaming appends and
    fine-grained partitions accumulate kilobyte files; at 100 TB the
    scan's task count (and the NameNode/listing pressure) is the
    FILE count, not the byte count, so periodic compaction is what
    keeps read amplification flat.

    Rewrites ``path`` into ``target_files`` files via a staging
    directory + two directory renames (same crash posture as
    plans/gold.py: a failure never leaves the target deleted).
    Returns (files_before, files_after).
    """
    import os
    import shutil

    files_before = sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
    df = spark.read.parquet(path)
    stage = path.rstrip("/") + ".compact_stage"
    old = path.rstrip("/") + ".compact_old"
    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    df.repartition(target_files).write.parquet(stage)
    os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old)
    files_after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    return files_before, files_after
