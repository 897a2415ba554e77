"""SparkSession factory.

Replaces the triplicated builder blocks in the reference
(``src/processing/fire_risk_processor.py:7-17``,
``src/processing/gold_batch_job.py:8-18``,
``src/utils/verify_lakehouse.py:4-14``) with one hermetic factory:
no Kafka/MinIO/S3A wiring required for tests; Delta extensions are
attached only if delta-spark is importable.

Scale notes (100 TB / 1000 executors):
  * AQE on (runtime coalesce + skew-join splitting) — the single most
    important knob for unknown data distributions.
  * ``spark.sql.shuffle.partitions`` defaults to cores locally; on a
    real cluster set it ~2-3x total cores (AQE coalesces down).
  * Arrow enabled for any pandas-UDF exchange.
  * Session timezone pinned UTC so timestamp semantics match the
    DuckDB oracle and are cluster-location-independent.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType, _parse_datatype_string


def get_session(
    app_name: str = "eco_pulse_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``master`` defaults to ``local[N]`` with N from $SPARK_GRAFT_CPUS
    (else all cores). ``shuffle_partitions`` defaults to N for local
    runs — the guide's "~cores, not 200" rule.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )

    # Delta Lake only if the jars/package are present (not in this image —
    # the reference's Delta tables map onto parquet here; see sources/).
    try:  # pragma: no cover - environment dependent
        import delta  # noqa: F401

        builder = (
            builder.config(
                "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
            ).config(
                "spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog",
            )
        )
    except ImportError:
        pass

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin(df: DataFrame) -> DataFrame:
    """Materialize a shared build once: the package's one pin. The
    result plans as a ``LogicalRDD`` over the pinned blocks, so its
    consumers neither rescan the source nor re-run the subtree.

    1. COST AT CONSTRUCTION, not at action: ``localCheckpoint
       (eager=True)`` runs the pinned subtree's full job the moment
       ``pin`` is CALLED, even if the caller only inspects
       ``.explain()`` or applies further filters (which can no longer
       push below the pin — the pinned frame is already the right
       granularity for every shipped consumer).
    2. NO AUTO-RELEASE: the blocks live until the session ends or
       someone unpersists them. One-shot jobs don't care (the pin
       dies with the job); a LONG-LIVED session calling pinned
       operators repeatedly must release between calls through
       ``bench.release_cached_state``, which unpersists every
       persistent RDD (the r11 bench inflation was exactly this
       accumulation). Recompute of an unpersisted pin FAILS by
       design, so release only after the consuming action finishes
       and the frame is dropped.
    3. ON A REAL CLUSTER the posture is
       ``persist(StorageLevel.MEMORY_AND_DISK)`` (+ checkpoint for
       lineage breaks): localCheckpoint blocks die with an executor;
       local mode has one executor, so here it is the cheap exact
       stand-in.

    When to pin at all (SCALE.md r11 rule): only when the shared
    subtree contains its own shuffle or an interpreted explode
    pipeline, or when a loop would otherwise grow its lineage —
    pinning a cheap codegen'd map-only projection measured SLOWER
    (simhash probe).
    """
    return df.localCheckpoint(eager=True)


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """A small driver-built frame as a Catalyst ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` pickles the rows into a
    Python RDD (``Scan ExistingRDD``), so every scan of it runs its
    tasks through Python workers — a fixed cost per request frame on
    the serving path. An Arrow table plans as a ``LocalRelation``
    (``LocalTableScan``): Python only builds the plan, the JVM runs it.

    Rows and schema equal the list path's, nullability included.
    Naive ``datetime`` values in a TIMESTAMP column are read as
    process-local wall time, as the list path reads them
    (``TimestampType.toInternal``), not in the session time zone the
    Arrow path would assume. Meant for driver-sized data only:
    request batches, codebooks, per-partition offsets."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for field, values, arrow_type in zip(
        schema.fields, columns, arrow_schema.types
    ):
        if isinstance(field.dataType, TimestampType):
            micros = [
                None if v is None else field.dataType.toInternal(v)
                for v in values
            ]
            arrays.append(pa.array(micros, pa.int64()).cast(arrow_type))
        else:
            arrays.append(pa.array(values, arrow_type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
