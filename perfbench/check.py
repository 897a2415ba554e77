"""Output checks: row count plus an order-independent checksum,
compared against DuckDB over the same files the engine read."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def digest(pdf: pd.DataFrame) -> tuple[int, int]:
    """(rows, checksum): the checksum sums a per-row hash over columns
    sorted by name, with floats rounded to 9 decimals, so row order,
    column order and integer widths do not matter."""
    df = pdf[sorted(pdf.columns, key=str.lower)].copy()
    df.columns = [c.lower() for c in df.columns]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(9) + 0.0  # folds -0.0 into 0.0
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        else:
            df[c] = s.map(lambda v: "" if v is None else str(v)).astype(str)
    if df.empty:
        return 0, 0
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def duckdb_frame(views: dict[str, str], sql: str, frames: dict | None = None) -> pd.DataFrame:
    """Run ``sql`` with each view bound to a parquet glob and each of
    ``frames`` registered as a table."""
    con = duckdb.connect()
    try:
        for name, glob in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
        for name, frame in (frames or {}).items():
            con.register(name, frame)
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def same(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> tuple[bool, str]:
    a, b = digest(spark_pdf), digest(oracle_pdf)
    return a == b, f"engine rows={a[0]} sum={a[1]:#x} oracle rows={b[0]} sum={b[1]:#x}"


# Gold over the domain tables, replayed cycle by cycle: each cycle's
# silver fires against the latest reading per station among the
# weather rows landed up to that cycle (plans/gold.py:gold_risk_domain
# semantics, gold_batch_job.py:22-78).
GOLD_REPLAY_SQL = """
WITH cyc AS (SELECT DISTINCT cycle AS c FROM fires),
wl AS (
  SELECT * FROM (
    SELECT cyc.c, w.*, row_number() OVER (
        PARTITION BY cyc.c, w.location_id
        ORDER BY w.timestamp DESC, w.wind_speed DESC, w.wind_deg DESC,
                 w.humidity DESC, w.temperature DESC) AS rn
    FROM cyc JOIN weather w ON w.cycle <= cyc.c
  ) WHERE rn = 1
), pairs AS (
  SELECT f.timestamp, f.lat AS fire_lat, f.lon AS fire_lon,
         wl.location_id AS weather_station, wl.wind_speed, wl.temperature,
         wl.humidity, f.confidence,
         sqrt((f.lat - wl.lat) * (f.lat - wl.lat)
              + (f.lon - wl.lon) * (f.lon - wl.lon)) AS distance_deg
  FROM fires f JOIN wl ON wl.c = f.cycle
)
SELECT timestamp, fire_lat, fire_lon, weather_station, wind_speed,
       temperature, humidity,
       CASE WHEN confidence = 'h' AND wind_speed >= 30.0
                 AND temperature >= 303.15 AND humidity <= 30.0 THEN 'EXTREME'
            WHEN confidence = 'h' AND wind_speed >= 30.0 THEN 'VERY_HIGH'
            WHEN confidence = 'h' AND wind_speed >= 20.0 THEN 'HIGH'
            WHEN confidence = 'h' THEN 'MODERATE'
            ELSE 'LOW' END AS risk_level,
       distance_deg
FROM pairs WHERE distance_deg < 20.0
"""
