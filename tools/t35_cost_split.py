#!/usr/bin/env python
"""t35 per-batch cost split (VERDICT r06 item 4): how much of the
streaming dedup-cluster maintenance cost is FIXED per-job driver
overhead vs data-dependent work.

Replays the exact per-batch step sequence of
corpus/streaming_corpus.py:t35_stream_dedup_clusters — (1) land the
batch's distinct-shingle index partial, (2) discover new pairs
against the accumulated index, (3) incremental label merge
(operators/components.py:incremental_components_update) — outside
the Structured Streaming harness, with a per-phase wall clock and a
per-phase Spark JOB COUNT (statusTracker job-group ids), plus a
measured trivial-job latency so "jobs x floor-latency" quantifies
the irreducible local-mode driver overhead. Results merge into
BENCH_DETAIL.json under "t35_batch_cost_split".

Run: python tools/t35_cost_split.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from eco_pulse_lakehouse_spark.catalog import load_table  # noqa: E402
from eco_pulse_lakehouse_spark.operators.components import (  # noqa: E402
    incremental_components_update,
)
from eco_pulse_lakehouse_spark.operators.dedup import (  # noqa: E402
    word_shingles,
)
from eco_pulse_lakehouse_spark.session import get_session, pin  # noqa: E402
from eco_pulse_lakehouse_spark.streaming import pipeline as sp  # noqa: E402

_LABELS = "id BIGINT, comp BIGINT"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_session("t35-cost-split", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    base = os.path.join(
        tempfile.gettempdir(), f"t35_cost_{uuid.uuid4().hex}"
    )
    stage = os.path.join(base, "docs")
    docs.repartition(4).write.parquet(stage)
    idx_root = os.path.join(base, "index")
    state_root = os.path.join(base, "state")

    # floor: median latency of a trivial 1-task job (pure driver
    # round-trip — the fixed cost every Spark job pays locally)
    trivial = []
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        trivial.append(time.perf_counter() - t0)
    trivial.sort()
    floor_sec = trivial[len(trivial) // 2]

    files = sorted(
        os.path.join(stage, f)
        for f in os.listdir(stage)
        if f.endswith(".parquet")
    )

    def timed(tag: str, fn):
        group = f"t35:{uuid.uuid4().hex[:8]}:{tag}"
        sc.setJobGroup(group, tag)
        t0 = time.perf_counter()
        fn()
        sec = time.perf_counter() - t0
        sc.setJobGroup("", "")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return sec, jobs

    batches = []
    for batch_id, path in enumerate(files):
        batch_df = spark.read.schema(docs.schema).parquet(path)
        rec: dict = {"batch": batch_id}

        sh = batch_df.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(word_shingles(F.col("text"), 3)).alias("__shs"),
        ).select(
            "id",
            F.size("__shs").alias("sz"),
            F.explode("__shs").alias("__s"),
        )

        def p1():
            sp.write_epoch(sh, idx_root, batch_id)

        rec["index_write_sec"], rec["index_write_jobs"] = timed("idx", p1)

        pair_box = {}

        def p2():
            full = sp.read_epochs(spark, idx_root, before=batch_id + 1)
            bat = sp.read_last_epoch(
                spark, idx_root, sh.schema, before=batch_id + 1
            )
            cand = full.select(
                F.col("id").alias("__ia"),
                F.col("sz").alias("__za"),
                "__s",
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
                    / (
                        F.col("__sa") + F.col("__sb") - F.col("__inter")
                    ),
                )
                .filter(F.col("__j") >= F.lit(0.2))
                .select("id_a", "id_b")
            )
            pair_box["pairs"] = pin(new_pairs)
            pair_box["n"] = pair_box["pairs"].count()

        rec["pair_discovery_sec"], rec["pair_discovery_jobs"] = timed(
            "pairs", p2
        )
        rec["n_new_pairs"] = pair_box["n"]

        def p3():
            prior = sp.read_last_epoch(
                spark, state_root, _LABELS, before=batch_id
            )
            sp.write_epoch(
                incremental_components_update(prior, pair_box["pairs"]),
                state_root,
                batch_id,
            )

        rec["label_merge_sec"], rec["label_merge_jobs"] = timed(
            "merge", p3
        )
        rec["total_sec"] = round(
            rec["index_write_sec"]
            + rec["pair_discovery_sec"]
            + rec["label_merge_sec"],
            3,
        )
        rec["total_jobs"] = (
            rec["index_write_jobs"]
            + rec["pair_discovery_jobs"]
            + rec["label_merge_jobs"]
        )
        rec["fixed_overhead_sec"] = round(
            rec["total_jobs"] * floor_sec, 3
        )
        for k in (
            "index_write_sec",
            "pair_discovery_sec",
            "label_merge_sec",
        ):
            rec[k] = round(rec[k], 3)
        batches.append(rec)

    out = {
        "t35_batch_cost_split": {
            "sf_dir": sf_dir,
            "trivial_job_floor_sec": round(floor_sec, 4),
            "batches": batches,
            "sum_total_sec": round(
                sum(b["total_sec"] for b in batches), 2
            ),
            "sum_jobs": sum(b["total_jobs"] for b in batches),
            "sum_fixed_overhead_sec": round(
                sum(b["fixed_overhead_sec"] for b in batches), 2
            ),
            "note": (
                "replays t35's exact per-batch step sequence outside "
                "the streaming harness; fixed_overhead = jobs x "
                "measured trivial-job latency (local-mode driver "
                "round-trips — amortized away on a real cluster "
                "where batches overlap and the driver is dedicated)"
            ),
        }
    }
    print(json.dumps(out["t35_batch_cost_split"], indent=1))
    path = os.path.join(REPO, "BENCH_DETAIL.json")
    try:
        existing = json.load(open(path))
    except FileNotFoundError:
        existing = {}
    existing.update(out)
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1)


if __name__ == "__main__":
    main()
