"""Versioned-table semantics: atomic commit, time travel, orphan
invisibility (sources/versioned.py — the native Delta-time-travel
stand-in; delta-spark absent from the image)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.corpus._registry import scratch
from eco_pulse_lakehouse_spark.sources import versioned


def _tmp():
    return scratch("vt")


def test_versions_commit_and_time_travel(spark):
    path = _tmp()
    df1 = spark.range(5).withColumn("tag", F.lit("v0"))
    df2 = spark.range(8).withColumn("tag", F.lit("v1"))
    assert versioned.write_version(df1, path) == 0
    assert versioned.write_version(df2, path) == 1
    assert [v["version"] for v in versioned.versions(path)] == [0, 1]
    assert versioned.read_version(spark, path).count() == 8  # latest
    old = versioned.read_version(spark, path, 0)
    assert old.count() == 5
    assert old.select("tag").distinct().first()[0] == "v0"


def test_uncommitted_orphan_is_invisible(spark):
    """A crash after data lands but before the manifest swap must
    leave the table exactly as it was."""
    path = _tmp()
    versioned.write_version(spark.range(3), path)
    # simulate the crash: data directory for v=1 exists, manifest not
    # updated
    spark.range(99).write.mode("overwrite").parquet(
        os.path.join(path, "v=1")
    )
    assert [v["version"] for v in versioned.versions(path)] == [0]
    assert versioned.read_version(spark, path).count() == 3
    try:
        versioned.read_version(spark, path, 1)
        raise AssertionError("orphan version must not be readable")
    except ValueError:
        pass


def test_partitioned_version_write(spark):
    path = _tmp()
    df = spark.range(10).withColumn("p", (F.col("id") % 2).cast("int"))
    versioned.write_version(df, path, partition_by=["p"])
    got = versioned.read_version(spark, path)
    assert got.count() == 10
    assert set(got.select("p").distinct().toPandas()["p"]) == {0, 1}


def test_merge_into_versioned_is_transactional(spark):
    """Two merges == one full recompute; every pre-merge version stays
    readable (rollback = read n-1)."""
    path = _tmp()
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k INT, tag STRING, v DOUBLE",
    )
    versioned.write_version(base, path)
    u1 = spark.createDataFrame([(2, "b2", 21.0), (4, "d", 40.0)],
                               "k INT, tag STRING, v DOUBLE")
    u2 = spark.createDataFrame([(4, "d2", 41.0)],
                               "k INT, tag STRING, v DOUBLE")
    assert versioned.merge_into(spark, path, u1, ["k"]) == 1
    assert versioned.merge_into(spark, path, u2, ["k"]) == 2
    latest = {
        r.k: (r.tag, r.v)
        for r in versioned.read_version(spark, path).collect()
    }
    assert latest == {1: ("a", 10.0), 2: ("b2", 21.0),
                      3: ("c", 30.0), 4: ("d2", 41.0)}
    # rollback view: version 1 still has d (not d2); version 0 pristine
    v1 = {r.k: r.tag for r in versioned.read_version(spark, path, 1).collect()}
    assert v1[4] == "d"
    assert versioned.read_version(spark, path, 0).count() == 3


def test_optimize_rewrites_content_identical(spark):
    """OPTIMIZE must produce a new version with identical content,
    fewer files, and leave prior versions readable."""
    import glob

    path = _tmp()
    df = spark.range(1000).withColumn("k", (F.col("id") % 7).cast("int"))
    versioned.write_version(df.repartition(16), path)
    v = versioned.optimize(spark, path, target_files=2, zorder_by=["k"])
    assert v == 1
    files0 = glob.glob(os.path.join(path, "v=0", "*.parquet"))
    files1 = glob.glob(os.path.join(path, "v=1", "*.parquet"))
    assert len(files1) < len(files0)
    a = {(r.id, r.k) for r in versioned.read_version(spark, path, 0).collect()}
    b = {(r.id, r.k) for r in versioned.read_version(spark, path, 1).collect()}
    assert a == b and len(a) == 1000
    assert versioned.versions(path)[-1].get("meta") == {"optimize": True}


def test_table_changes_insert_delete_and_update_pair(spark):
    """CDF between snapshots: removed rows surface as deletes, added
    rows as inserts, an updated row as its delete+insert pair, and
    multiset semantics hold (a duplicated new row yields one insert
    per extra copy)."""
    path = _tmp()
    rows0 = [(1, 10.0), (2, 20.0), (3, 30.0)]
    rows1 = [(1, 10.0), (2, 25.0), (4, 40.0), (4, 40.0)]
    versioned.write_version(
        spark.createDataFrame(rows0, "id LONG, v DOUBLE"), path
    )
    versioned.write_version(
        spark.createDataFrame(rows1, "id LONG, v DOUBLE"), path
    )
    got = {
        (r.id, r.v, r._change_type): 1
        for r in versioned.table_changes(spark, path, 0).collect()
    }
    feed = sorted(
        (r.id, r.v, r._change_type)
        for r in versioned.table_changes(spark, path, 0).collect()
    )
    assert feed == sorted(
        [
            (2, 20.0, "delete"),   # update: old image
            (2, 25.0, "insert"),   # update: new image
            (3, 30.0, "delete"),   # plain delete
            (4, 40.0, "insert"),   # plain insert ×2 (multiset)
            (4, 40.0, "insert"),
        ]
    ), feed
    assert got  # collected fine


def test_vacuum_retires_history_and_orphans_keeps_head(spark):
    """VACUUM must drop retired manifest entries before deleting
    their directories, clean crash-orphaned staging dirs, refuse
    keep_last < 1, and leave the head snapshot bit-identical."""
    import pytest

    path = _tmp()
    df0 = spark.range(4).withColumn("tag", F.lit("v0"))
    df1 = spark.range(6).withColumn("tag", F.lit("v1"))
    df2 = spark.range(9).withColumn("tag", F.lit("v2"))
    for d in (df0, df1, df2):
        versioned.write_version(d, path)
    orphan = os.path.join(path, "_staging-deadbeef")
    os.makedirs(orphan)
    with pytest.raises(ValueError):
        versioned.vacuum(path, keep_last=0)
    assert versioned.vacuum(path, keep_last=1) == [0, 1]
    assert [v["version"] for v in versioned.versions(path)] == [2]
    assert not os.path.exists(os.path.join(path, "v=0"))
    assert not os.path.exists(os.path.join(path, "v=1"))
    assert not os.path.exists(orphan)
    assert versioned.read_version(spark, path).count() == 9
    with pytest.raises(ValueError):
        versioned.read_version(spark, path, 0)
    # idempotent: nothing left to retire
    assert versioned.vacuum(path, keep_last=1) == []


def test_restore_commits_old_content_forward(spark):
    """RESTORE is a forward commit of an old snapshot: history grows
    (the bad head stays inspectable), the new head equals the
    restored version's content exactly, and the manifest records
    what was restored."""
    path = _tmp()
    good = spark.range(7).withColumn("tag", F.lit("good"))
    bad = spark.range(2).withColumn("tag", F.lit("bad"))
    versioned.write_version(good, path)
    versioned.write_version(bad, path)
    assert versioned.restore(spark, path, 0) == 2
    head = versioned.read_version(spark, path)
    assert head.count() == 7
    assert head.select("tag").distinct().first()[0] == "good"
    assert versioned.read_version(spark, path, 1).count() == 2
    assert versioned.versions(path)[-1]["meta"] == {"restore_of": 0}


def test_read_history_tags_versions_and_evolves_schema(spark):
    """History scan: every snapshot present tagged with its version;
    a column added in a later version backfills NULL in earlier
    ones (additive schema evolution)."""
    path = _tmp()
    versioned.write_version(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id LONG, v DOUBLE"),
        path,
    )
    versioned.write_version(
        spark.createDataFrame(
            [(1, 10.0, "a"), (3, 30.0, "b")], "id LONG, v DOUBLE, tag STRING"
        ),
        path,
    )
    hist = versioned.read_history(spark, path)
    rows = sorted(
        (r._version, r.id, r.v, r.tag) for r in hist.collect()
    )
    assert rows == [
        (0, 1, 10.0, None),
        (0, 2, 20.0, None),
        (1, 1, 10.0, "a"),
        (1, 3, 30.0, "b"),
    ]


def test_incremental_agg_via_changes_equals_direct(spark):
    """Folding the change feed version by version must reproduce the
    direct aggregate of the head snapshot exactly — including a key
    whose rows are all deleted (it must DROP, not linger at zero),
    and decimal-exact sums under updates (delete+insert pairs)."""
    path = _tmp()
    v0 = [(1, "a", 1.5), (2, "a", 2.25), (3, "b", 4.0), (4, "c", 8.0)]
    v1 = [(1, "a", 1.5), (2, "a", 2.25), (3, "b", 4.0)]      # c deleted
    v2 = [(1, "a", 3.0), (2, "a", 2.25), (3, "b", 4.0)]      # a updated
    schema = "id LONG, k STRING, v DOUBLE"
    for rows in (v0, v1, v2):
        versioned.write_version(spark.createDataFrame(rows, schema), path)
    got = {
        r.k: (r.n_rows, r.total)
        for r in versioned.incremental_agg_via_changes(
            spark, path, ["k"], "v"
        ).collect()
    }
    assert got == {"a": (2, 5.25), "b": (1, 4.0)}, got
    assert "c" not in got


def test_materialize_changes_idempotent_and_crash_safe(spark):
    """Each committed version materializes exactly one cv-N batch;
    re-materializing is a no-op; a torn staging dir from a crashed
    materialization is swept, never served."""
    path = _tmp()
    versioned.write_version(
        spark.range(4).withColumn("v", F.col("id") * 10), path
    )
    versioned.write_version(
        spark.range(2, 6).withColumn("v", F.col("id") * 10), path
    )
    assert versioned.materialize_changes(spark, path) == [0, 1]
    assert versioned.materialize_changes(spark, path) == []  # idempotent
    # simulated crash mid-materialization: staging dir, never renamed
    orphan = os.path.join(
        path, versioned.CHANGES_DIR, "_staging-deadbeef"
    )
    os.makedirs(orphan)
    versioned.write_version(
        spark.range(5).withColumn("v", F.col("id") * 10), path
    )
    assert versioned.materialize_changes(spark, path) == [2]
    assert not os.path.exists(orphan)
    feed = spark.read.parquet(versioned.changes_glob(path))
    assert set(feed.columns) == {"id", "v", "_change_type", "_commit_version"}


def test_changes_feed_matches_batch_table_changes(spark):
    """Per version N>0, the materialized cv-N batch must equal
    table_changes(N-1, N) as a multiset; cv-0 is the full v0
    snapshot tagged insert."""
    path = _tmp()
    versioned.write_version(spark.range(6).withColumn("x", F.lit("a")), path)
    versioned.write_version(
        spark.range(3, 9).withColumn("x", F.lit("a")), path
    )
    versioned.materialize_changes(spark, path)
    feed = spark.read.parquet(versioned.changes_glob(path))
    cv1 = feed.filter(F.col("_commit_version") == 1).drop("_commit_version")
    batch = versioned.table_changes(spark, path, 0, 1)
    assert cv1.exceptAll(batch).count() == 0
    assert batch.exceptAll(cv1).count() == 0
    cv0 = feed.filter(F.col("_commit_version") == 0)
    assert cv0.count() == 6
    assert cv0.select("_change_type").distinct().first()[0] == "insert"


def test_read_changes_stream_restart_is_exactly_once(spark):
    """A checkpointed consumer drains each commit batch exactly once
    across restarts: drain, commit more, drain AGAIN over the SAME
    checkpoint — the second drain must deliver only the new commit's
    rows, and the union of both drains equals the whole feed."""
    path, out = _tmp(), _tmp()
    sink, ck = os.path.join(out, "sink"), os.path.join(out, "ck")
    versioned.write_version(spark.range(4), path)
    versioned.materialize_changes(spark, path)
    schema = spark.read.parquet(versioned.changes_glob(path)).schema

    def drain():
        q = (
            versioned.read_changes_stream(spark, path, schema=schema)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(sink).count() == 4
    versioned.write_version(spark.range(2, 7), path)  # +3 ins, -2 del
    versioned.materialize_changes(spark, path)
    drain()
    drained = spark.read.parquet(sink)
    assert drained.count() == 4 + 5  # second drain adds ONLY cv-1
    feed = spark.read.parquet(versioned.changes_glob(path))
    assert drained.exceptAll(feed).count() == 0
    assert feed.exceptAll(drained).count() == 0


def test_materialize_changes_refuses_vacuumed_predecessor(spark):
    """After vacuum retires a version's predecessor, materializing
    its diff must raise — never silently emit the surviving snapshot
    as a full-insert batch (which would double-apply at any
    checkpointed consumer)."""
    import pytest

    path = _tmp()
    versioned.write_version(spark.range(4), path)
    versioned.write_version(spark.range(2, 7), path)
    versioned.write_version(spark.range(3, 8), path)
    versioned.vacuum(path, keep_last=1)  # only v2 survives
    with pytest.raises(ValueError, match="vacuumed"):
        versioned.materialize_changes(spark, path)
