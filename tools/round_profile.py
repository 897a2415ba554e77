"""Per-round optimization profiler: isolate named corpus entries.

For each requested entry: 1 untimed warm-up + N timed noop-sink runs
(bench methodology — same silver staging, same release_cached_state
between entries) and the ``explain("formatted")`` plan captured to
``plans/<round>/<name>_<suffix>.txt`` (the before/after evidence for
OPTIMIZATION_<round>.md). The final JSON line carries the timings
under ``<round>_profile``.

Run:  python tools/round_profile.py <round> [--suffix before|after]
          [--runs N] [--no-plans] name [name ...]
      e.g. python tools/round_profile.py r15 x4_bm25
Never alongside another Spark JVM (memory: env-gates-and-testdata).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import (  # noqa: E402
    host_speed_probe,
    materialize,
    release_cached_state,
    stage_silver,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("round", help="round tag, e.g. r15")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--oneoff", action="store_true",
                    help="single timed run, no warm-up (bench ONEOFF mode)")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    probe_start = host_speed_probe()

    from eco_pulse_lakehouse_spark.session import get_session

    spark = get_session(f"eco-pulse-{args.round}-profile")
    import __spark_entry__ as entry

    qs = entry.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        sys.exit(f"unknown entries: {unknown}")
    sf_dir, staging_sec = stage_silver(spark, sf_dir)
    from eco_pulse_lakehouse_spark.catalog import ensure_silver_database

    ensure_silver_database(spark, sf_dir)

    plans_dir = os.path.join(REPO, "plans", args.round)
    os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, dict] = {}
    for name in args.names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"{args.round}-profile:{name}")
        if not args.no_plans:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(buf.getvalue())
            release_cached_state(spark)
        if args.oneoff:
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            runs = [time.perf_counter() - t0]
            release_cached_state(spark)
        else:
            materialize(fn(spark, sf_dir))  # warm-up (untimed)
            release_cached_state(spark)
            runs = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                materialize(fn(spark, sf_dir))
                runs.append(time.perf_counter() - t0)
                release_cached_state(spark)
        out[name] = {
            "p50": round(statistics.median(runs), 3),
            "min": round(min(runs), 3),
            "max": round(max(runs), 3),
            "runs": [round(r, 3) for r in runs],
        }
        print(json.dumps({name: out[name]}), flush=True)
        spark.sparkContext.setJobDescription(None)

    probe_end = host_speed_probe()
    print(
        json.dumps(
            {
                f"{args.round}_profile": out,
                "suffix": args.suffix,
                "host_probe_start": probe_start,
                "host_probe_end": probe_end,
                "staging_sec": staging_sec,
            }
        )
    )


if __name__ == "__main__":
    main()
