"""Versioned parquet tables — manifest-committed snapshots.

The reference persists every layer as Delta and leans on its time
travel (/root/reference/src/processing/fire_risk_processor.py:73-86);
delta-spark is absent from this image (NEXT.md item 7), so this
module provides the load-bearing subset natively over plain parquet:

  * ATOMIC COMMITS — data lands in a version directory first; a
    version EXISTS only once the manifest names it, and the manifest
    update is an os.replace (POSIX-atomic rename). A crash mid-write
    leaves an orphan directory readers never see — never a torn
    table.
  * TIME TRAVEL — ``read_version(path, n)`` reads any committed
    snapshot; ``versions(path)`` lists them with commit timestamps.
  * READER ISOLATION — readers resolve the manifest once; a
    concurrent writer committing v+1 never changes what an open
    reader sees (snapshot isolation at version granularity).

At 100 TB each version directory is itself partitioned (the writer
accepts ``partition_by``); a version commit is still one manifest
rename regardless of data size. Concurrent writers serialize at the
commit point through an exclusive lockfile (``_commit.lock``) — two
simultaneous ``write_version`` calls land as versions N and N+1,
never a lost commit. What this intentionally does NOT provide vs
Delta: file-level MERGE/OPTIMIZE transactions and OPTIMISTIC
conflict detection between read-modify-write cycles — two
``merge_into`` calls that both read version N commit N+1 and N+2 in
commit order, the Delta "both succeed, last writer's base is stale"
caveat; serialize merges per table (the gold maintenance loop's
single-maintainer shape, gold_batch_job.py:96-104).
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"
_LOCK = "_commit.lock"


@contextlib.contextmanager
def _commit_lock(table_path: str, timeout_s: float = 60.0):
    """Exclusive commit lock: O_CREAT|O_EXCL lockfile (atomic on
    POSIX). Two concurrent writers previously both read the same
    manifest, computed the same next version, and the second
    os.replace silently discarded the first commit (round-2 ADVICE);
    under the lock the read-modify-write critical section is serial.
    The data write itself happens OUTSIDE the lock (it can be a long
    Spark job) — only version assignment + rename + manifest swap
    are serialized. Raises TimeoutError after ``timeout_s`` (a stale
    lock from a killed process must be removed by an operator; the
    lockfile records pid and time for that)."""
    os.makedirs(table_path, exist_ok=True)
    lock_path = os.path.join(table_path, _LOCK)
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"commit lock held too long: {lock_path} "
                    f"(remove it manually if its owner is dead)"
                ) from None
            time.sleep(0.05)
    try:
        with os.fdopen(fd, "w") as f:
            json.dump({"pid": os.getpid(), "acquired_at": time.time()}, f)
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(lock_path)


def _manifest_path(table_path: str) -> str:
    return os.path.join(table_path, MANIFEST)


def _load_manifest(table_path: str) -> dict:
    p = _manifest_path(table_path)
    if not os.path.exists(p):
        return {"versions": []}
    with open(p) as f:
        return json.load(f)


def versions(table_path: str) -> list[dict]:
    """Committed versions, oldest first: [{version, committed_at}]."""
    return list(_load_manifest(table_path)["versions"])


def write_version(
    df: DataFrame,
    table_path: str,
    partition_by: Sequence[str] | None = None,
    meta: dict | None = None,
) -> int:
    """Write ``df`` as the next version and COMMIT it atomically.
    Returns the new version number. Data is fully written before the
    manifest (the commit point) is swapped in — a crash beforehand
    leaves an invisible orphan directory. ``meta`` rides in the
    manifest entry (e.g. a streaming epoch id, the replay-idempotence
    key t20 uses: a committed batch_id is never re-applied).

    Concurrency: the (possibly long) Spark write lands in a
    uuid-staging directory with NO lock held; version assignment,
    the staging→``v=N`` rename, and the manifest swap then run under
    an exclusive lockfile, so two concurrent writers serialize into
    versions N and N+1 instead of the second silently discarding the
    first (round-2 ADVICE)."""
    os.makedirs(table_path, exist_ok=True)
    staging = os.path.join(table_path, f"_staging-{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    try:
        with _commit_lock(table_path):
            man = _load_manifest(table_path)
            vs = [v["version"] for v in man["versions"]]
            next_v = (max(vs) + 1) if vs else 0
            os.rename(staging, os.path.join(table_path, f"v={next_v}"))
            entry = {"version": next_v, "committed_at": time.time()}
            if meta:
                entry["meta"] = meta
            man["versions"].append(entry)
            fd, tmp = tempfile.mkstemp(
                dir=table_path, suffix=".manifest.tmp"
            )
            with os.fdopen(fd, "w") as f:
                json.dump(man, f)
            os.replace(tmp, _manifest_path(table_path))  # the commit
    except BaseException:
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        raise
    return next_v


def read_version(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read a committed snapshot (default: latest). Uncommitted
    orphan directories are invisible by construction."""
    man = _load_manifest(table_path)
    if not man["versions"]:
        raise FileNotFoundError(f"no committed versions at {table_path}")
    committed = {v["version"] for v in man["versions"]}
    if version is None:
        version = max(committed)
    if version not in committed:
        raise ValueError(
            f"version {version} not committed at {table_path}; "
            f"have {sorted(committed)}"
        )
    return spark.read.parquet(os.path.join(table_path, f"v={version}"))


def merge_into(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    keys: Sequence[str],
) -> int:
    """TRANSACTIONAL MERGE: read the latest committed snapshot, apply
    MERGE semantics (operators/merge.py:upsert — updates win on key
    collision, everything else survives), commit the result as a new
    version. The old version stays readable until — and after — the
    atomic manifest swap, so a crash mid-merge loses nothing and a
    bad merge rolls back by reading version n-1 (the two properties
    plans/gold.py's staging-rename loop cannot give, closing the
    round-1 'transactional MERGE for gold' gap natively). Compute is
    O(target ∪ updates) per merge like any copy-on-write MERGE; at
    100 TB pass partition_by-shaped targets to write_version and
    compact cold partitions separately."""
    from eco_pulse_lakehouse_spark.operators.merge import upsert

    current = read_version(spark, table_path)
    # materialize the plan before the write job overwrites nothing —
    # the new version dir is fresh, so a plain lazy plan is safe; the
    # union is committed only by the manifest swap in write_version
    merged = upsert(current, updates, keys)
    return write_version(merged, table_path)


def table_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
    change_col: str = "_change_type",
) -> DataFrame:
    """CHANGE DATA FEED between two committed snapshots (Delta's
    ``table_changes`` surface, reference requirements.txt:2): every
    row added since ``from_version`` tagged ``insert``, every row
    removed tagged ``delete``; an update shows up as its
    delete+insert pair (snapshot commits carry no row identity —
    exactly Delta's CDF behavior when the writer didn't record
    update rows). Multiset semantics via exceptAll: a row present
    twice in v_new and once in v_old yields ONE insert.

    Shape: two snapshot scans + a hash-aggregate difference on full
    rows — the honest cost when commits are whole snapshots (Delta
    derives CDF from its file-level log instead; the versioned
    layer's manifest names whole directories). At 100 TB run it
    between ADJACENT versions (the common CDC consumer loop), where
    the diff is bounded by one commit's churn after partition
    pruning on ``partition_by`` tables."""
    new = read_version(spark, table_path, to_version)
    old = read_version(spark, table_path, from_version)
    from pyspark.sql import functions as F

    return (
        new.exceptAll(old)
        .withColumn(change_col, F.lit("insert"))
        .unionByName(
            old.exceptAll(new).withColumn(change_col, F.lit("delete"))
        )
    )


CHANGES_DIR = "_changes"


def materialize_changes(
    spark: SparkSession,
    table_path: str,
    change_col: str = "_change_type",
    version_col: str = "_commit_version",
) -> list[int]:
    """Materialize the CHANGE FEED as per-version parquet batches
    under ``_changes/cv-N`` — the durable form a streaming consumer
    can tail (Delta writes ``_change_data`` files at commit time;
    the versioned layer derives changes from snapshots, so they are
    materialized here, once per version, on demand).

    * cv-0 is the full v0 snapshot tagged ``insert`` (the stream's
      initial load, like Delta's startingVersion=0 semantics).
    * cv-N (N>0) is ``table_changes(N-1, N)`` — one commit's churn,
      inserts + deletes with updates as delete/insert pairs.
    * Every change row carries ``version_col`` so consumers can fold
      commits in order.

    IDEMPOTENT: versions with an existing ``cv-N`` directory are
    skipped, so calling this after each commit is an O(churn)
    incremental append to the feed. CRASH-SAFE: each batch lands in
    a staging directory first and becomes visible via one atomic
    os.rename — a torn write is an invisible ``_staging-*`` orphan,
    swept on the next call. Returns the newly materialized version
    numbers.

    ORDERING vs VACUUM: a version's diff needs its PREDECESSOR
    snapshot, so materialize BEFORE vacuuming history — deriving
    cv-N after v(N-1) was retired raises read_version's clear
    missing-version error (Delta has the same constraint: CDF over
    vacuumed history is gone). Already-materialized cv-N batches
    survive vacuum untouched (the feed has its own retention)."""
    import shutil

    vs = [v["version"] for v in versions(table_path)]
    out_base = os.path.join(table_path, CHANGES_DIR)
    os.makedirs(out_base, exist_ok=True)
    for name in os.listdir(out_base):
        if name.startswith("_staging-"):
            shutil.rmtree(os.path.join(out_base, name), ignore_errors=True)
    done = set(_change_versions(table_path))
    from pyspark.sql import functions as F

    new: list[int] = []
    for prev, cur in zip([None, *vs], vs):
        if cur in done:
            continue
        if prev is None and cur != 0:
            # vacuum retired this version's predecessor before its
            # diff was materialized — the change is underivable, and
            # emitting the surviving snapshot as a full "insert"
            # batch would double-apply every row at any checkpointed
            # consumer (the docstring's ORDERING contract)
            raise ValueError(
                f"cannot materialize changes for version {cur}: its "
                f"predecessor snapshot was vacuumed before "
                f"materialization (materialize BEFORE vacuum)"
            )
        if prev is None:
            ch = read_version(spark, table_path, cur).withColumn(
                change_col, F.lit("insert")
            )
        else:
            ch = table_changes(spark, table_path, prev, cur, change_col)
        ch = ch.withColumn(version_col, F.lit(cur).cast("int"))
        staging = os.path.join(out_base, f"_staging-{uuid.uuid4().hex}")
        ch.write.mode("overwrite").parquet(staging)
        os.rename(staging, os.path.join(out_base, f"cv-{cur}"))
        new.append(cur)
    return new


def changes_glob(table_path: str) -> str:
    """Path glob covering every materialized change batch."""
    return os.path.join(table_path, CHANGES_DIR, "cv-*")


def _change_versions(table_path: str) -> list[int]:
    """Sorted versions N with a materialized ``_changes/cv-N`` batch."""
    names = os.listdir(os.path.join(table_path, CHANGES_DIR))
    return sorted(int(n[3:]) for n in names if n.startswith("cv-"))


def read_changes_stream(
    spark: SparkSession, table_path: str, **options
) -> DataFrame:
    """STREAMING consumer of the materialized change feed: a file
    stream over ``_changes/cv-*`` — each newly materialized commit
    batch arrives as a micro-batch, checkpointing gives the consumer
    exactly-once delivery across restarts, and the glob root is
    explicit so the ``_``-prefixed feed directory itself is never
    subject to hidden-path filtering (its children ``cv-N`` are
    plain names). This is the versioned layer's ``readStream``
    CDC surface: downstream materialized views fold each batch by
    ``_commit_version`` order (see incremental_agg_via_changes for
    the batch twin of that fold). The schema comes from the footer of
    the lowest ``cv-N`` batch: no inference job over the feed."""
    from eco_pulse_lakehouse_spark.streaming.pipeline import footer_schema

    cv = _change_versions(table_path)[0]
    schema = footer_schema(os.path.join(table_path, CHANGES_DIR, f"cv-{cv}"))
    return (
        spark.readStream.schema(schema)
        .options(**options)
        .parquet(changes_glob(table_path))
    )


def vacuum(table_path: str, keep_last: int = 1) -> list[int]:
    """VACUUM: retire all but the newest ``keep_last`` versions.
    The manifest commits the shrunken history FIRST (atomic swap
    under the commit lock — readers never see a manifest naming a
    deleted directory), then the retired version directories and any
    crash-orphaned ``_staging-*`` directories are physically
    deleted. Returns the removed version numbers. Like Delta VACUUM,
    an already-open reader of a retired version can lose its files
    mid-read — retention policy (how small ``keep_last`` may go) is
    the operator's contract with readers."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the table must keep a head)")
    with _commit_lock(table_path):
        man = _load_manifest(table_path)
        keep = man["versions"][-keep_last:]
        removed = man["versions"][: -keep_last or None]
        if removed:
            man["versions"] = keep
            fd, tmp = tempfile.mkstemp(
                dir=table_path, suffix=".manifest.tmp"
            )
            with os.fdopen(fd, "w") as f:
                json.dump(man, f)
            os.replace(tmp, _manifest_path(table_path))
    for v in removed:
        shutil.rmtree(
            os.path.join(table_path, f"v={v['version']}"),
            ignore_errors=True,
        )
    for name in os.listdir(table_path):
        if name.startswith("_staging-"):
            shutil.rmtree(
                os.path.join(table_path, name), ignore_errors=True
            )
    return [v["version"] for v in removed]


def read_history(
    spark: SparkSession, table_path: str, version_col: str = "_version"
) -> DataFrame:
    """Full table HISTORY scan: every committed snapshot unioned,
    tagged with its version number — the audit/debug read Delta
    exposes as per-version time travel plus DESCRIBE HISTORY.
    Schemas may EVOLVE across versions (each version directory
    carries its own parquet schema): later columns backfill NULL in
    earlier versions via unionByName(allowMissingColumns) — additive
    evolution, the only kind a snapshot layer can express without a
    rewrite. The plan is a union of plain parquet scans (one per
    version), so pruning/pushdown still reach each scan."""
    from pyspark.sql import functions as F

    vs = versions(table_path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {table_path}")
    out = None
    for v in vs:
        df = read_version(spark, table_path, v["version"]).withColumn(
            version_col, F.lit(v["version"]).cast("int")
        )
        out = (
            df
            if out is None
            else out.unionByName(df, allowMissingColumns=True)
        )
    return out


def restore(
    spark: SparkSession, table_path: str, version: int
) -> int:
    """RESTORE: commit snapshot ``version``'s content as a NEW head
    version (Delta RESTORE semantics — rollback is a forward commit,
    history is preserved, so the bad head stays inspectable and the
    restore itself is crash-safe like any other commit)."""
    snap = read_version(spark, table_path, version)
    return write_version(snap, table_path, meta={"restore_of": version})


def incremental_agg_via_changes(
    spark: SparkSession,
    table_path: str,
    keys: Sequence[str],
    value_col: str,
    scale: int = 4,
) -> DataFrame:
    """CDC CONSUMER over the change feed: maintain per-key COUNT and
    SUM(value) by folding each committed version's ``table_changes``
    diff into a running aggregate — the downstream-materialized-view
    loop a change feed exists for. Version v's contribution is one
    diff-sized aggregation (+value per insert, −value per delete);
    history is never rescanned, so the per-commit cost is O(churn),
    not O(table) — the same incremental-maintenance contract as the
    t7/t20 gold loops.

    Exactness: values accumulate as DECIMAL(18,scale) — decimal
    addition is associative and commutative, and deletes subtract
    the exact amount inserts added, so after N folds the state is
    BIT-IDENTICAL to aggregating the head snapshot directly (the
    corpus oracle t21 checks precisely that). Keys whose rows are
    all deleted drop out via the maintained count (a zero-sum key is
    kept only while rows remain — matching the direct aggregate)."""
    from pyspark.sql import functions as F

    dec = f"decimal(18,{scale})"
    vs = [v["version"] for v in versions(table_path)]
    head = read_version(spark, table_path, vs[0])
    agg = head.groupBy(*list(keys)).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(value_col).cast(dec)).alias("__total"),
    )
    for prev, cur in zip(vs, vs[1:]):
        ch = table_changes(spark, table_path, prev, cur)
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        delta = ch.groupBy(*list(keys)).agg(
            F.sum(sign).alias("__dn"),
            F.sum(
                (F.col(value_col).cast(dec) * sign).cast(dec)
            ).alias("__dt"),
        )
        agg = (
            agg.join(delta, list(keys), "full_outer")
            .select(
                *list(keys),
                (
                    F.coalesce(F.col("__n"), F.lit(0))
                    + F.coalesce(F.col("__dn"), F.lit(0))
                ).alias("__n"),
                (
                    F.coalesce(F.col("__total"), F.lit(0).cast(dec))
                    + F.coalesce(F.col("__dt"), F.lit(0).cast(dec))
                )
                .cast(dec)
                .alias("__total"),
            )
            .filter(F.col("__n") > 0)
        )
    return agg.select(
        *list(keys),
        F.col("__n").cast("bigint").alias("n_rows"),
        F.col("__total").cast("double").alias("total"),
    )


def optimize(
    spark: SparkSession,
    table_path: str,
    target_files: int = 4,
    zorder_by: Sequence[str] | None = None,
) -> int:
    """OPTIMIZE for the versioned layer: rewrite the LATEST snapshot
    as ``target_files`` files — optionally range-sorted on
    ``zorder_by`` columns (the clustered-layout pass, see
    operators/layout.py for true Z-interleaving) — and commit the
    result as a NEW content-identical version. Readers of the old
    version are untouched (snapshot isolation); a crash mid-optimize
    loses nothing; rollback is read n-1. Together with write_version
    (atomic commits), read_version (time travel) and merge_into
    (transactional MERGE) this closes out the load-bearing Delta
    surface natively."""
    cur = read_version(spark, table_path)
    if zorder_by:
        compacted = cur.repartitionByRange(target_files, *zorder_by)
    else:
        compacted = cur.coalesce(target_files)
    return write_version(compacted, table_path, meta={"optimize": True})
