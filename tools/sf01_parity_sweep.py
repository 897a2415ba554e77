#!/usr/bin/env python
"""Full-corpus oracle parity sweep at an ARBITRARY scale factor
(default sf0.1 — the bench scale the driver's sf0.01 gate never
checks).

Motivation (round 5): the w27 gap-precision bug PASSED every sf0.01
check and only diverged at sf0.1 (one boundary pair) — the class
"oracle agrees at the certified sf, diverges at a larger one" is
provably real, so every oracle-backed entry gets a value-exact check
at the bench scale too. Uses the same compare gate as the local
pytest replica (tests/parity.py — rows + schema-family + value
hash).

Round-6 additions (VERDICT r05 items 4/5):
- each entry records the driver-style TRIPLE {rows_match,
  schema_match, hash_match, spark_rows, oracle_rows}, making the
  sweep file audit-equivalent to a CORRECTNESS file;
- the ORACLE side is cached on disk keyed by (oracle SQL, source
  parquet size+mtime): oracles are pure SQL over static data, so a
  repeat sweep re-runs only the SPARK side plus any oracle whose
  text or input changed — the 14-minute x2 closure family is paid
  once per data/oracle change, not per session.

Usage: python tools/sf01_parity_sweep.py [sf_dir]
Writes PARITY_SWEEP_<sf>.json and prints one summary line.
Rows-only entries (no oracle) are skipped, like the driver does.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

CACHE_DIR = os.path.join(REPO, "tools", ".oracle_cache")


def _oracle_cache_key(name: str, sql: str, sf_dir: str) -> str:
    """Cache key = oracle text + identity of every source parquet
    (size + mtime) — any data refresh or oracle edit invalidates.
    CONTENT-only key (no entry name): streaming twins carry their
    batch entry's oracle verbatim (t35 = x2_dedup_clusters, ...), so
    identical SQL must share one cached result — name-prefixed keys
    made x2_dedup_clusters recompute t35's 13-minute oracle.
    duckdb.__version__ is folded in so a library upgrade that changes
    an oracle's results can never be masked by a stale cached result
    (ADVICE r06)."""
    import duckdb

    from eco_pulse_lakehouse_spark.catalog import TABLES

    h = hashlib.sha256()
    h.update(f"duckdb:{duckdb.__version__}\n".encode())
    h.update(sql.encode())
    for t in sorted(TABLES):
        p = os.path.join(sf_dir, f"{t}.parquet")
        st = os.stat(p)
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:32]


def _oracle_pdf(con, name: str, sql: str, sf_dir: str):
    """Run (or load) the oracle side. Parquet round-trips DuckDB
    result frames losslessly for every type the corpus emits
    (ints/floats/strings/timestamps/lists)."""
    import pandas as pd

    os.makedirs(CACHE_DIR, exist_ok=True)
    key = _oracle_cache_key(name, sql, sf_dir)
    path = os.path.join(CACHE_DIR, f"{key}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path), True
    pdf = con.execute(sql).fetchdf()
    try:
        pdf.to_parquet(path)
    except Exception:  # exotic dtype — just skip caching this one
        pass
    return pdf, False


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import duckdb

    from eco_pulse_lakehouse_spark.session import get_session
    from eco_pulse_lakehouse_spark.catalog import TABLES
    from parity import compare

    spark = get_session("parity-sweep")
    import __spark_entry__ as entry

    qs, osql = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{path}'"
        )

    report = os.path.join(REPO, f"PARITY_SWEEP_{sf}.json")
    # RESUME: a killed sweep keeps its partial report (entries are
    # flushed one by one) and re-runs only the missing tail
    out: dict[str, dict] = {}
    if os.path.exists(report):
        try:
            out = json.load(open(report))
            print(f"resuming: {len(out)} entries already checked",
                  flush=True)
        except Exception:
            out = {}
    n_ok = sum(1 for v in out.values() if v["ok"])
    n_bad = len(out) - n_ok
    t_start = time.perf_counter()
    for name, fn in qs.items():
        if name not in osql:
            continue  # rows-only by design — driver skips hash too
        if name in out:
            continue
        t0 = time.perf_counter()
        rows_match = schema_match = hash_match = False
        s_rows = o_rows = None
        cached = False
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            oracle_pdf, cached = _oracle_pdf(
                con, name, osql[name], sf_dir
            )
            s_rows, o_rows = len(spark_pdf), len(oracle_pdf)
            rows_match = s_rows == o_rows
            schema_match = (
                sorted(c.lower() for c in spark_pdf.columns)
                == sorted(c.lower() for c in oracle_pdf.columns)
            )
            res = compare(name, spark_pdf, oracle_pdf)
            hash_match = res.ok
            ok, detail = res.ok, (None if res.ok else res.detail)
        except Exception as exc:  # noqa: BLE001 — report, don't abort
            ok, detail = False, f"{type(exc).__name__}: {exc}"[:300]
        out[name] = {
            "ok": ok,
            "rows_match": rows_match,
            "schema_match": schema_match,
            "hash_match": hash_match,
            "spark_rows": s_rows,
            "oracle_rows": o_rows,
            "oracle_cached": cached,
            "sec": round(time.perf_counter() - t0, 2),
            **({"detail": detail} if detail else {}),
        }
        n_ok += ok
        n_bad += not ok
        # release pins between entries (the r12 bench hygiene —
        # 342 entries in one JVM otherwise accumulate every
        # pinned block; see SCALE.md "Pin RELEASE")
        from bench import release_cached_state

        release_cached_state(spark)
        json.dump(out, open(report, "w"), indent=1)  # flush per entry
        if not ok:
            print(f"FAIL {name}: {detail}", flush=True)
        elif (n_ok + n_bad) % 25 == 0:
            print(f"... {n_ok + n_bad} checked, {n_bad} failing",
                  flush=True)

    print(json.dumps({
        "metric": "oracle_parity_sweep",
        "sf": sf,
        "checked": n_ok + n_bad,
        "green": n_ok,
        "red": n_bad,
        "red_entries": sorted(k for k, v in out.items() if not v["ok"]),
        "total_sec": round(time.perf_counter() - t_start, 1),
    }))


if __name__ == "__main__":
    main()
