"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import check, gen, run
from perfbench.trace import FIELD_UNITS, SPAN_FIELDS, STREAM_FIELDS
from perfbench.workloads import WORKLOADS

CFG = run.load_config()


def _files_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(seed: int, root: str) -> dict[str, str]:
    gen.write_table(gen.events_table(seed, 500, 40), root, "events")
    gen.write_table(gen.documents_table(seed, 200), root, "documents")
    gen.write_table(gen.embeddings_table(seed, 100), root, "embeddings")
    cycles = gen.CycleGen(seed)
    for c in range(3):
        f_lines, w_lines, _, _ = cycles.cycle(c)
        gen.write_lines(f_lines + w_lines, os.path.join(root, f"bronze-{c}.json"))
    with open(os.path.join(root, "queries.json"), "w") as fh:
        pool = gen.serve_queries(seed, 16, 100)
        json.dump([pool, gen.batches(seed, pool, 8, 3)], fh)
    return _files_digest(root)


def test_generators_are_deterministic_per_seed(tmp_path):
    a = _generate(7, str(tmp_path / "a"))
    b = _generate(7, str(tmp_path / "b"))
    c = _generate(8, str(tmp_path / "c"))
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_cycle_generator_replays_and_late_rows():
    cycles = gen.CycleGen(3, fires=40)
    for c in range(4):
        f_lines, w_lines, fires, weather = cycles.cycle(c)
        values = [json.loads(x)["value"] for x in f_lines]
        kept = {json.dumps(f, separators=(",", ":")) for f in fires}
        base = cycles.base(c)
        late = [v for v in values if json.loads(v)["timestamp"] < base - gen.LATE_S[0] + 1]
        assert len(late) == (cycles.late if c > 1 else 0)
        assert len(values) - len(late) > len(kept)  # replays present
        # replays may come from the previous cycle, one step earlier
        assert all(json.loads(v)["timestamp"] > base - gen.STEP_S - gen.OUT_OF_ORDER_S
                   for v in values if v not in late)
        assert len(weather) == len(cycles.stations)


def test_engine_reads_only_files_inside_the_run_dir(tmp_path):
    work = str(tmp_path / "work")
    for cls in WORKLOADS.values():
        wl = cls(1, work, 1, tracer=None)
        wl.generate()
        assert os.path.commonpath([wl.gen_dir, wl.rep_dir("x"), work]) == work
    assert set(_files_digest(work)) <= {
        "gen/events.parquet", "gen/documents.parquet", "gen/embeddings.parquet"
    }


def test_end_to_end_names_match_benchmark_json():
    values = run.end_to_end([0.5] * 10, 100, 5.0, 0, 1.0, 100.0)
    names = [m["name"] for m in CFG["end_to_end"]]
    assert set(names) <= set(values)
    printed = run.metrics_json(values, CFG["end_to_end"])
    assert list(printed) == names
    assert all(printed[m["name"]]["unit"] == m["unit"] for m in CFG["end_to_end"])


def test_op_p90_omitted_below_100_ops():
    assert "op_p90_ms" not in run.end_to_end([0.1] * 99, 1, 1.0, 0, 1.0, 1.0)
    full = run.end_to_end([i / 1000 for i in range(1, 101)], 1, 1.0, 0, 1.0, 1.0)
    assert full["op_p90_ms"] == pytest.approx(90.9)


def test_per_layer_names_match_workload_spans():
    spans = {s for w in CFG["workloads"] for s in WORKLOADS[w["name"]].spans}
    want = {f"{s}.{f}": FIELD_UNITS[f] for s in spans for f in SPAN_FIELDS}
    want.update(STREAM_FIELDS)
    want.update({"session.job_floor_ms": "ms", "trace.overhead_ms": "ms"})
    assert {m["name"]: m["unit"] for m in CFG["per_layer"]} == want


def test_digest_ignores_row_and_column_order():
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", None], "c": [0.1, -0.0, 2.5]})
    shuffled = df.iloc[[2, 0, 1]][["c", "a", "b"]].astype({"a": "int32"})
    assert check.digest(df) == check.digest(shuffled)
    changed = df.assign(c=[0.1, 0.0, 2.6])
    assert check.digest(df) != check.digest(changed)


def test_exits_nonzero_without_the_engine(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(root, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", CFG["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
