"""Seeded lakehouse benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one client, closed loop:
the next op starts when the previous one returns; Spark runs on
``local[N]`` with N = min(4, usable cores). The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, the
per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
WARMUP_OPS = 4
HEAP = "1536m"
P90_MIN_OPS = 100  # p90 needs >= 10 samples beyond it


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[1].strip())
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def usable_cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def vm_hwm_kib(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def host_probe() -> float:
    """Single-core context figure: seconds for a 2M-step Python loop.
    Printed beside the results; never divides any metric."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t0


def end_to_end(latencies_s, items, wall_s, failed, setup_s, rss_mb) -> dict:
    """Every end-to-end figure this run can report, by name. ``op_p90_ms``
    appears only when the run holds enough ops to have one."""
    ms = sorted(x * 1000.0 for x in latencies_s)
    out = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(ms),
        "throughput_per_s": items / wall_s,
        "error_rate": failed / len(ms),
        "peak_rss_mb": rss_mb,
    }
    if len(ms) >= P90_MIN_OPS:
        out["op_p90_ms"] = statistics.quantiles(ms, n=10)[-1]
    return out


def metrics_json(values: dict, specs: list[dict]) -> dict:
    """The JSON ``metrics`` object: exactly the names in ``specs``. A
    per-layer span the workload never calls reads 0 (zero calls)."""
    return {s["name"]: {"value": float(values.get(s["name"], 0.0)), "unit": s["unit"]}
            for s in specs}


class Session:
    """The engine session, restartable inside one JVM."""

    def __init__(self, work: str, cores: int):
        self.work, self.cores, self.spark = work, cores, None

    def start(self):
        from eco_pulse_lakehouse_spark.session import get_session

        conf = {
            # fixed heap: G1 resizing made peak RSS swing by ~25% run to run
            "spark.driver.memory": HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={self.work}/tmp",
            # a watermark-only micro-batch would run after processAllAvailable
            # returns, overlapping the next timed step
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        }
        self.spark = get_session(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def timed_op(wl, i, errors):
    """Run op ``i``; returns (latency_s, items, failed)."""
    t0 = time.perf_counter()
    try:
        items, verify = wl.op(i)
        latency = wl.op_latency(time.perf_counter() - t0)
    except Exception:  # noqa: BLE001 - counted, reported, loop goes on
        errors.append(traceback.format_exc(limit=3))
        return time.perf_counter() - t0, 0, True
    finally:
        try:
            wl.after_op()
        except Exception:  # noqa: BLE001
            errors.append(traceback.format_exc(limit=3))
    err = verify() if verify else None
    if err:
        errors.append(err)
    return latency, items, bool(err)


def run(args, work, session) -> dict:
    from perfbench.trace import Tracer, job_floor_ms
    from perfbench.workloads import WORKLOADS

    cores = session.cores
    tracer = Tracer(cores, bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, work, cores, tracer)
    wl.generate()

    # set-up, repeated: the first rep includes the JVM launch
    setup_times = []
    for rep in range(SETUP_REPS):
        if rep:
            wl.teardown()
            session.stop()
        t0 = time.perf_counter()
        spark = session.start()
        tracer.bind(spark)
        wl.setup(spark)
        setup_times.append(time.perf_counter() - t0)
    setup_s = statistics.median(setup_times)

    floor_ms = job_floor_ms(spark) if args.trace else 0.0

    # warm-up: a fixed count of ops. The JIT keeps compiling for ~10 ops
    # (op latency falls ~3x, then ~10% more), so a fixed count leaves
    # every run at the same point of that curve; a stop-when-flat rule
    # was fooled by op-to-op noise and spread op_p50 by ~25% across runs.
    tracer.enabled, errors = False, []
    wl.reference()
    warm = [timed_op(wl, i, errors)[0] for i in range(WARMUP_OPS)]
    errors.clear()  # warm-up ops are not attempted ops
    tracer.sync(wl.queries)

    # timed closed loop; with --trace 1 every other op is traced
    plain, traced, items, failed = [], [], 0, 0
    i = len(warm)
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    while not (plain or traced) or time.perf_counter() < deadline:
        tracer.enabled = bool(args.trace) and (len(plain) + len(traced)) % 2 == 1
        lat, n, bad = timed_op(wl, i, errors)
        (traced if tracer.enabled else plain).append(lat)
        if tracer.enabled:
            tracer.stream_progress(wl.queries)
        elif args.trace:
            tracer.sync(wl.queries)
        items += n
        failed += bad
        i += 1
    wall = time.perf_counter() - t_start
    tracer.enabled = False
    rss_mb = (vm_hwm_kib("self") + vm_hwm_kib(spark._jvm.java.lang.ProcessHandle.current().pid())) / 1024.0

    attempted = len(plain) + len(traced)
    err = wl.final_check()
    if err:
        errors.append(err)
        failed = attempted

    e2e = end_to_end(plain + traced, items, wall, failed, setup_s, rss_mb)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "host_probe_py_loop_2m_s": host_probe(),
        "setup_reps_s": setup_times, "warmup_ops": len(warm), "warmup_ms": [x * 1000 for x in warm],
        "ops": attempted, "op_ms": [x * 1000 for x in plain + traced],
        "item_unit": wl.item_unit, "end_to_end": e2e, "errors": errors,
        "attempted": attempted, "failed": failed,
    }
    if args.trace:
        layers = tracer.summary(floor_ms)
        layers["session.job_floor_ms"] = floor_ms
        layers["trace.overhead_ms"] = (
            (statistics.median(traced) - statistics.median(plain)) * 1000.0
            if plain and traced else 0.0
        )
        report["per_layer"] = layers
        report["count_spread"] = tracer.count_spread()
        report["span_records"] = tracer.records
    wl.teardown()
    return report


def print_report(report: dict) -> None:
    e = report["end_to_end"]
    print(f"workload {report['workload']} seed {report['seed']} trace {report['trace']} "
          f"cores {report['cores']} warmup_ops {report['warmup_ops']} ops {report['ops']}")
    print(f"  setup_s          {e['setup_s']:.4f} s   (median of {len(report['setup_reps_s'])} reps)")
    print(f"  op_p50_ms        {e['op_p50_ms']:.3f} ms")
    if "op_p90_ms" in e:
        print(f"  op_p90_ms        {e['op_p90_ms']:.3f} ms")
    else:
        print(f"  op_p90_ms        omitted ({report['ops']} ops < {P90_MIN_OPS})")
    print(f"  throughput_per_s {e['throughput_per_s']:.3f} {report['item_unit']}")
    print(f"  error_rate       {e['error_rate']:.4f} ratio ({report['failed']}/{report['attempted']})")
    print(f"  peak_rss_mb      {e['peak_rss_mb']:.1f} MiB")
    print(f"  host_probe       {report['host_probe_py_loop_2m_s']:.4f} s per 2M-step loop (context only)")
    if report["trace"]:
        layers = report["per_layer"]
        print(f"  tracing overhead {layers['trace.overhead_ms']:.3f} ms on op_p50")
        for name in sorted(layers):
            if layers[name]:
                print(f"    {name} = {layers[name]:.4g}")
        for name, (lo, hi) in sorted(report["count_spread"].items()):
            if lo != hi:
                print(f"    {name} varies {lo}..{hi} across ops")
    for err in report["errors"]:
        print(f"  ERROR {err}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    cfg = load_config()
    if not os.path.isdir(os.path.join(ROOT, "eco_pulse_lakehouse_spark")):
        print("perfbench: engine package eco_pulse_lakehouse_spark not found in "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    session = Session(work, usable_cores())
    try:
        report = run(args, work, session)
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1, default=str)
    print_report(report)
    key = "per_layer" if args.trace else "end_to_end"
    print(json.dumps({
        "correct": report["failed"] == 0 and not report["errors"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics_json(report[key], cfg[key]),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
