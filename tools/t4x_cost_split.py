#!/usr/bin/env python
"""t40/t41 per-batch cost split (VERDICT r09 item 4, the t35
precedent): prove the streaming twins' 10x-rehearsal exponents
(t41 0.75, t40 0.50) are FIXED per-batch Spark overhead plus
ingest-LINEAR data work, not super-linear per-batch serving cost.

Replays each twin's exact foreachBatch body outside the Structured
Streaming harness (one staged parquet file = one batch, the
maxFilesPerTrigger=1 shape) at TWO batch granularities — the same
sf0.1 corpus split into 4 files and into 8 files — so per-batch time
can be decomposed by least squares into

    sec(batch) ~= fixed + slope * batch_rows

If the model fits (r2 high) with a positive fixed share, total
drain time is  n_batches*fixed + slope*corpus_rows : linear in
ingest with a per-batch constant — exactly what a >0.5 rehearsal
exponent measured on a drain-till-empty demo reflects when the 10x
run also multiplies batch count. Per-phase wall clock + Spark job
counts (statusTracker job groups) + the measured trivial-job floor
quantify the irreducible local-mode driver overhead, like
t35_batch_cost_split.

Round 11 adds t48 (the winnowing-index ingest twin, rehearsal
exponent 0.75 — the only r10 family above the 0.5 line): its
foreachBatch body is one row-local fingerprint pass per batch, so
the same fixed+slope decomposition applies.

Results merge into BENCH_DETAIL.json under "<twin>_cost_split".

Run: python tools/t4x_cost_split.py [sf_dir] [twin ...]   (never
alongside another Spark JVM; twins default to all of t40/t41/t48)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from eco_pulse_lakehouse_spark.catalog import load_table  # noqa: E402
from eco_pulse_lakehouse_spark.session import get_session, pin  # noqa: E402


def _fit(points):
    """Least-squares sec = fixed + slope*rows over (rows, sec)."""
    n = len(points)
    sx = sum(p[0] for p in points)
    sy = sum(p[1] for p in points)
    sxx = sum(p[0] * p[0] for p in points)
    sxy = sum(p[0] * p[1] for p in points)
    denom = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / denom
    fixed = (sy - slope * sx) / n
    ybar = sy / n
    ss_res = sum((y - (fixed + slope * x)) ** 2 for x, y in points)
    ss_tot = sum((y - ybar) ** 2 for _, y in points) or 1e-12
    return fixed, slope, 1.0 - ss_res / ss_tot


# Single source of truth for the twin registry keys: the CLI parser
# below and the `twins` dict in main() are both checked against this
# tuple, so adding a twin in one place but not the other fails loudly
# instead of silently mis-parsing argv (ADVICE r11). t52 (the
# 3-stream hybrid loop, VERDICT r12 item 3) runs through its own
# dedicated flow (run_t52) — its three stages have different cost
# models, so the generic docs-stream replay doesn't fit it.
TWIN_NAMES = ("t40", "t41", "t48", "t52")


def _parse_args(argv: list[str]) -> tuple[str, list[str]]:
    """Positional args in any order: twin names (from TWIN_NAMES)
    filter the run; exactly one non-twin arg overrides sf_dir —
    accepted whether or not it is a LOCAL directory, so remote URIs
    (s3a://, hdfs://) pass through to the reader like any Spark path
    (ADVICE r12: isdir was a gate, which rejected every non-local
    sf_dir). A second non-twin arg is still an error — no positional
    guessing (`t4x_cost_split.py t48 /path/to/sf` used to drop the
    path silently)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    wanted: list[str] = []
    seen_dir = False
    for a in argv:
        if a in TWIN_NAMES:
            wanted.append(a)
        elif not seen_dir:
            sf_dir, seen_dir = a, True
        else:
            raise SystemExit(
                f"unrecognized arg {a!r}: not a twin name "
                f"{sorted(TWIN_NAMES)} and a second sf_dir candidate "
                f"(already have {sf_dir!r}; usage: "
                "t4x_cost_split.py [sf_dir] [twin ...])"
            )
    return sf_dir, wanted


def _run_t52(spark, sf_dir, docs, timed, floor_sec, base):
    """t52 cost split (VERDICT r12 item 3): the 3-stream hybrid loop
    decomposed by stage. The two MAINTENANCE streams (postings
    partials, int8-store partials) get the standard fixed+slope·rows
    fit at 4- and 8-file granularity — per-batch work is one linear
    pass over the batch. The SERVE stream is fit per-REQUEST over the
    pinned merged artifacts (sec ≈ fixed + slope·n_requests), and a
    corpus-scale contrast re-runs the identical 3-query serve against
    artifacts built from the sf0.01 corpus vs this sf_dir's — the
    per-request serving DAG reads only the query terms' postings rows
    and the top-k pools, so serve time should be nearly flat across a
    10× corpus (the t49/t52 'per-batch work is index-only' claim,
    measured instead of asserted)."""
    from eco_pulse_lakehouse_spark.corpus import northstar as _ns
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        term_postings,
    )
    from eco_pulse_lakehouse_spark.plans.hybrid_serving import (
        hybrid_serving,
    )
    from eco_pulse_lakehouse_spark.plans.rag_context import int8_store

    docs = docs.select("doc_id", "text")
    e = load_table(spark, sf_dir, "embeddings")

    def postings_body(batch_df, sink):
        term_postings(batch_df, "doc_id", "text").write.mode(
            "overwrite"
        ).parquet(sink)

    def store_body(batch_df, sink):
        int8_store(batch_df).select("vec_id", "q_vec", "__n8").write.mode(
            "overwrite"
        ).parquet(sink)

    out = {"trivial_job_floor_sec": round(floor_sec, 4), "sf_dir": sf_dir}

    # --- the two maintenance streams: fixed + slope*rows ------------
    for stage_name, src, body in (
        ("postings_ingest", docs, postings_body),
        ("store_ingest", e, store_body),
    ):
        points, batches = [], []
        for n_files in (4, 8):
            stage_dir = os.path.join(base, f"t52_{stage_name}_{n_files}")
            src.repartition(n_files).write.parquet(stage_dir)
            files = sorted(
                os.path.join(stage_dir, f)
                for f in os.listdir(stage_dir)
                if f.endswith(".parquet")
            )
            for i, path in enumerate(files):
                batch_df = spark.read.schema(src.schema).parquet(path)
                rows = batch_df.count()
                sink = os.path.join(
                    base, f"t52_{stage_name}_{n_files}_{i}"
                )
                body(batch_df, sink + "_warm")  # warm pass untimed
                sec, jobs = timed(
                    f"t52:{stage_name}:{n_files}:{i}",
                    lambda: body(batch_df, sink),
                )
                points.append((rows, sec))
                batches.append(
                    {
                        "granularity_files": n_files,
                        "batch": i,
                        "rows": rows,
                        "sec": round(sec, 3),
                        "jobs": jobs,
                    }
                )
        fixed, slope, r2 = _fit(points)
        out[stage_name] = {
            "batches": batches,
            "fit_fixed_sec_per_batch": round(fixed, 3),
            "fit_slope_sec_per_1k_rows": round(slope * 1000, 4),
            "fit_r2": round(r2, 3),
        }

    # --- the serve stream: fixed + slope*n_requests over the pinned
    # merged artifacts (t49 discipline: one materialization, many
    # request batches) --------------------------------------------
    postings_full = pin(term_postings(docs, "doc_id", "text"))
    store_full = pin(int8_store(e).select("vec_id", "q_vec", "__n8"))
    queries = list(_ns._BM25_QUERIES)

    def serve(batch, sink):
        hybrid_serving(
            docs, e, batch, postings=postings_full, quantized=store_full
        ).write.mode("overwrite").parquet(sink)

    serve_points, serve_batches = [], []
    batchings = [[q] for q in queries] + [queries]
    for i, batch in enumerate(batchings):
        sink = os.path.join(base, f"t52_serve_{i}")
        serve(batch, sink + "_warm")
        sec, jobs = timed(f"t52:serve:{i}", lambda: serve(batch, sink))
        serve_points.append((len(batch), sec))
        serve_batches.append(
            {"n_requests": len(batch), "sec": round(sec, 3), "jobs": jobs}
        )
    s_fixed, s_slope, s_r2 = _fit(serve_points)
    out["serve"] = {
        "batches": serve_batches,
        "fit_fixed_sec_per_batch": round(s_fixed, 3),
        "fit_slope_sec_per_request": round(s_slope, 4),
        "fit_r2": round(s_r2, 3),
    }

    # --- corpus-scale contrast: identical 3-query serve against
    # artifacts built from a 10x-smaller corpus ---------------------
    contrast = {}
    for tag, cdir in (("sf0.01", "/root/testdata/sf0.01"), ("sf_dir", sf_dir)):
        cd = load_table(spark, cdir, "documents").select(
            F.col("doc_id").cast("bigint").alias("doc_id"), "text"
        )
        ce = load_table(spark, cdir, "embeddings")
        cp = pin(term_postings(cd, "doc_id", "text"))
        cs = pin(int8_store(ce).select("vec_id", "q_vec", "__n8"))

        def cserve(sink, cd=cd, ce=ce, cp=cp, cs=cs):
            hybrid_serving(
                cd, ce, queries, postings=cp, quantized=cs
            ).write.mode("overwrite").parquet(sink)

        sink = os.path.join(base, f"t52_contrast_{tag}")
        cserve(sink + "_warm")
        sec, jobs = timed(f"t52:contrast:{tag}", lambda: cserve(sink))
        contrast[tag] = {
            "corpus_rows": cd.count(),
            "serve_sec": round(sec, 3),
            "jobs": jobs,
        }
    contrast["serve_ratio_vs_10x_corpus"] = round(
        contrast["sf_dir"]["serve_sec"]
        / max(contrast["sf0.01"]["serve_sec"], 1e-9),
        3,
    )
    out["serve_corpus_contrast"] = contrast
    out["note"] = (
        "3-stream decomposition: both maintenance streams fit "
        "fixed + slope*rows (ingest-linear with a per-batch "
        "constant, the t40/t41/t48 class); the serve stream fits "
        "fixed + slope*n_requests over the pinned merged artifacts, "
        "and the corpus contrast re-runs the identical request set "
        "against artifacts from a 10x-smaller corpus — a ratio near "
        "1 shows per-request serving work is index-probe-only, not "
        "corpus-scan"
    )
    return {"t52_cost_split": out}


def main() -> None:
    sf_dir, wanted = _parse_args(sys.argv[1:])
    spark = get_session("t4x-cost-split", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    from eco_pulse_lakehouse_spark.corpus.northstar import _nb_pos_pred
    from eco_pulse_lakehouse_spark.corpus import northstar as _ns
    from eco_pulse_lakehouse_spark.functions.text import tokens
    from eco_pulse_lakehouse_spark.operators.bpe import (
        learn_wordpiece_merges,
        segment_words,
    )
    from eco_pulse_lakehouse_spark.operators.selection import (
        _hashed_features,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source", "text"
    )

    trivial = []
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        trivial.append(time.perf_counter() - t0)
    floor_sec = statistics.median(trivial)

    def timed(tag: str, fn):
        group = f"t4x:{uuid.uuid4().hex[:8]}:{tag}"
        sc.setJobGroup(group, tag)
        t0 = time.perf_counter()
        fn()
        sec = time.perf_counter() - t0
        sc.setJobGroup("", "")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return sec, jobs

    base = os.path.join(tempfile.gettempdir(), f"t4x_{uuid.uuid4().hex}")

    # ---- t40: batch-learned merges applied per batch -----------------
    # (the full-corpus merge learning is deferred until t40 is
    # actually selected — a t48-only run must not pay it)
    merges: list = []

    def t40_batch(batch_df, sink):
        seg = segment_words(batch_df, merges)
        tok = batch_df.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("w")
        ).filter(F.length("w") > 0)
        (
            tok.join(F.broadcast(seg), "w")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum(F.size("seg")).cast("bigint").alias("n_wp_tokens"),
            )
            .write.mode("overwrite")
            .parquet(sink)
        )

    # ---- t41: three linear partials per batch ------------------------
    def t41_batch(batch_df, sink):
        lab = batch_df.select(
            "doc_id", _nb_pos_pred().alias("__is_p"), "text"
        )
        feat = lab.select(
            "doc_id",
            "__is_p",
            F.explode(_hashed_features(F.col("text"), 128)).alias(
                "bucket"
            ),
        )
        (
            feat.groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("__is_p"), 1).otherwise(0))
                .cast("bigint")
                .alias("c_pos"),
                F.sum(F.when(F.col("__is_p"), 0).otherwise(1))
                .cast("bigint")
                .alias("c_neg"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(sink, "counts"))
        )
        (
            lab.agg(
                F.sum(F.when(F.col("__is_p"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_pos"),
                F.sum(F.when(F.col("__is_p"), 0).otherwise(1))
                .cast("bigint")
                .alias("n_neg"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(sink, "labels"))
        )
        (
            feat.groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .write.mode("overwrite")
            .parquet(os.path.join(sink, "docbuckets"))
        )

    # ---- t48: one row-local fingerprint pass per batch ---------------
    from eco_pulse_lakehouse_spark.operators.dedup import (
        poly_token_hash,
        winnowing_fingerprints,
    )

    def t48_batch(batch_df, sink):
        (
            winnowing_fingerprints(
                batch_df, "doc_id", "text", k=3, w=4,
                token_hash=poly_token_hash,
            )
            .write.mode("overwrite")
            .parquet(sink)
        )

    twins = {"t40": t40_batch, "t41": t41_batch, "t48": t48_batch}
    assert set(twins) | {"t52"} == set(TWIN_NAMES), (
        "twins dict and TWIN_NAMES drifted — update both"
    )
    want_t52 = (not wanted) or ("t52" in wanted)
    if wanted:
        twins = {k: v for k, v in twins.items() if k in wanted}
    if "t40" in twins:
        merges.extend(
            (r.left_sym, r.right_sym)
            for r in learn_wordpiece_merges(
                docs, "text", n_merges=_ns._BPE_MERGES
            )
            .orderBy("merge_round")
            .collect()
        )
    results = {name: {"points": [], "batches": []} for name in twins}

    for n_files in (4, 8) if twins else ():
        stage = os.path.join(base, f"stage_{n_files}")
        docs.repartition(n_files).write.parquet(stage)
        files = sorted(
            os.path.join(stage, f)
            for f in os.listdir(stage)
            if f.endswith(".parquet")
        )
        for name, body in twins.items():
            for i, path in enumerate(files):
                batch_df = spark.read.schema(docs.schema).parquet(path)
                rows = batch_df.count()
                sink = os.path.join(base, f"{name}_{n_files}_{i}")
                # warm-up pass then timed pass (plan/codegen caches
                # warm, matching steady-state streaming)
                body(batch_df, sink + "_warm")
                sec, jobs = timed(f"{name}:{n_files}:{i}",
                                  lambda: body(batch_df, sink))
                results[name]["points"].append((rows, sec))
                results[name]["batches"].append(
                    {
                        "granularity_files": n_files,
                        "batch": i,
                        "rows": rows,
                        "sec": round(sec, 3),
                        "jobs": jobs,
                        "job_floor_overhead_sec": round(
                            jobs * floor_sec, 3
                        ),
                    }
                )

    out = {}
    if want_t52:
        out.update(_run_t52(spark, sf_dir, docs, timed, floor_sec, base))
    for name, res in results.items():
        fixed, slope, r2 = _fit(res["points"])
        out[f"{name}_cost_split"] = {
            "sf_dir": sf_dir,
            "trivial_job_floor_sec": round(floor_sec, 4),
            "batches": res["batches"],
            "fit_fixed_sec_per_batch": round(fixed, 3),
            "fit_slope_sec_per_1k_rows": round(slope * 1000, 4),
            "fit_r2": round(r2, 3),
            "note": (
                "per-batch replay of the exact foreachBatch body at 4- "
                "and 8-file granularity (warm pass untimed); "
                "sec ~= fixed + slope*rows decomposes drain time into "
                "n_batches*fixed + slope*corpus_rows — ingest-linear "
                "with a per-batch constant; the 10x rehearsal also "
                "multiplies batch count, which is what pushed the "
                "demo exponent above 0.5"
            ),
        }

    path = os.path.join(REPO, "BENCH_DETAIL.json")
    try:
        existing = json.load(open(path))
    except (FileNotFoundError, json.JSONDecodeError):
        existing = {}
    existing.update(out)
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
