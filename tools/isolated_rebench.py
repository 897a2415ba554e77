"""Isolated clean-JVM re-measure of bench swings (the r08 protocol,
generalized for reuse each round).

The r06 ruling: sub-1.5x UNIFORM normalized swings across unrelated
queries are host noise (this hypervisor throttles 35-50% under
all-core load, non-uniformly on sub-second queries). Anything above
the band must be adjudicated on a clean JVM with interleaved host
probes and UNTOUCHED CONTROL queries timed in the same JVM: if the
suspects return to their old band (or inflate no more than the
controls do), the swing was mixed-run/host state; if a suspect stays
inflated while controls sit at their records, it's a real plan/code
regression.

Round 14 target set (VERDICT r13 item 3):
- flagship_hybrid_serving (suspect): touched in r13, then read 5.84 s
  in the r13 one-off bench run against its r12-era record
  band. Record band 4.116.
- x4_bm25, x3_cosine_topk, x4_prf_expansion: untouched controls
  timed in the same JVM.
The round-13 run (w16_sax_motif_pairs and x6_budget_select against
three controls) is kept in BENCH_DETAIL.isolated_rebench_r13.

Records compared are HOST-NORMALIZED p50s (queries_norm from the
shipped BENCH_DETAIL maps), so the host-speed swing between those
runs and this one cancels.

Writes `isolated_rebench_r14` into BENCH_DETAIL.json (merge, never
overwrite — the sidecar holds other tools' sections).

Run:  python tools/isolated_rebench.py    (never alongside another
Spark JVM — memory: env-gates-and-testdata)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import (  # noqa: E402
    REF_PY_LOOP,
    host_speed_probe,
    materialize,
    release_cached_state,
    stage_silver,
)

# (name, is_suspect, record-band NORM p50, latest NORM p50)
# — both from the shipped queries_norm history.
QUERIES = [
    # flagship_hybrid_serving: touched in r13 (46->30-class Exchange
    # cut) yet read 5.84 raw in the one-off bench run / 6.76 norm in
    # the r13 closing run vs its r12-era ~4.3-4.4 record band. VERDICT
    # r13 item 3: adjudicate on a clean window with untouched
    # controls. Record = the r14 opening clean-window full bench
    # (4.116 norm at probe 0.544, commit 2d75ea5), which already sat
    # back in the r12 band; last = the r13 one-off run normalized.
    ("flagship_hybrid_serving", True, 4.116, 5.841),
    ("x4_bm25", False, 1.252, 1.289),
    ("x3_cosine_topk", False, 0.469, 0.572),
    ("x4_prf_expansion", False, 2.718, 2.638),
]
N_RUNS = 5
SECTION = "isolated_rebench_r14"
PREV_KEY = "record"  # the record band suspects must return to
LAST_KEY = "r13"  # the inflated round under adjudication


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    probe_start = host_speed_probe()

    from eco_pulse_lakehouse_spark.session import get_session

    spark = get_session("eco-pulse-isolated-rebench")
    import __spark_entry__ as entry

    qs = entry.queries()
    sf_dir, _ = stage_silver(spark, sf_dir)

    from eco_pulse_lakehouse_spark.catalog import ensure_silver_database

    ensure_silver_database(spark, sf_dir)

    rows: dict[str, dict] = {}
    for name, suspect, prev_norm, last_norm in QUERIES:
        fn = qs[name]
        materialize(fn(spark, sf_dir))  # warm-up (untimed)
        runs = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        release_cached_state(spark)
        rows[name] = {
            "suspect": suspect,
            "p50": round(statistics.median(runs), 3),
            "min": round(min(runs), 3),
            f"{PREV_KEY}_norm": prev_norm,
            f"{LAST_KEY}_norm": last_norm,
        }
    probe_mid = host_speed_probe()

    # second timed pass interleaved after the mid probe, so each
    # query gets measurements under two host states
    for name, *_ in QUERIES:
        fn = qs[name]
        runs = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        release_cached_state(spark)
        rows[name]["p50_pass2"] = round(statistics.median(runs), 3)
    probe_end = host_speed_probe()

    py_mean = statistics.mean(
        [
            probe_start["py_loop_sec"],
            probe_mid["py_loop_sec"],
            probe_end["py_loop_sec"],
        ]
    )
    host_ratio = py_mean / REF_PY_LOOP
    for name, row in rows.items():
        best_p50 = min(row["p50"], row["p50_pass2"])
        norm = best_p50 / host_ratio
        row["p50_norm"] = round(norm, 3)
        row["vs_prev_norm"] = round(norm / row[f"{PREV_KEY}_norm"], 2)
        row["vs_last_norm"] = round(norm / row[f"{LAST_KEY}_norm"], 2)

    ctrl_inflation = max(
        row["vs_prev_norm"] for row in rows.values() if not row["suspect"]
    )
    for name, row in rows.items():
        if not row["suspect"]:
            row["verdict"] = "control"
        elif row["vs_prev_norm"] <= 1.25:
            row["verdict"] = (
                f"back in {PREV_KEY} band — {LAST_KEY} swing was "
                "bench-state/host noise"
            )
        elif row["vs_prev_norm"] <= ctrl_inflation * 1.25:
            row["verdict"] = (
                "inflation bounded by simultaneously-measured control "
                f"inflation ({ctrl_inflation}x) — host-state ruling"
            )
        else:
            row["verdict"] = "regression NOT noise — investigate plan/code"

    section = {
        "note": (
            "clean-JVM isolated re-run of "
            f"{sum(q[1] for q in QUERIES)} suspect(s) + "
            f"{sum(not q[1] for q in QUERIES)} untouched controls "
            f"({N_RUNS} timed runs x 2 interleaved passes each after "
            "warm-up; best-pass p50, 3-probe mean normalization; "
            "release_cached_state between entries = the r12 bench "
            f"hygiene); suspect verdicts compare to the {PREV_KEY} "
            "band, bounded by control inflation"
        ),
        "host_probe_start": probe_start,
        "host_probe_mid": probe_mid,
        "host_probe_end": probe_end,
        "py_loop_mean": round(py_mean, 3),
        "control_inflation_max": ctrl_inflation,
        "queries": rows,
    }
    path = os.path.join(REPO, "BENCH_DETAIL.json")
    try:
        existing = json.load(open(path))
    except (FileNotFoundError, json.JSONDecodeError):
        existing = {}
    existing[SECTION] = section
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1)
    print(json.dumps(section["queries"], indent=1))


if __name__ == "__main__":
    main()
