"""Seeded input generators.

Every generator draws from its own numpy stream keyed by
``(seed, stream id[, index])``, so the same seed writes byte-identical
files and a different seed writes different ones. The engine only ever
sees the files written here (and the silver copies it stages from them).

Shapes follow the repository's driver tables (``events``, ``documents``,
``embeddings``) and the producer messages in FIXTURES.md (fire and
weather envelopes over the Spain bounding boxes).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# stream ids: one independent numpy stream per generator
_EVENTS, _DOCS, _EMB, _STATIONS, _CYCLE, _QUERIES = range(1, 7)


def _rng(seed: int, stream: int, *index: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *index])


def _write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


# --- events (gold_recompute) -------------------------------------------

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_EVENTS_T0_NS = 1_704_067_200 * 10**9  # 2024-01-01 UTC
_EVENTS_SPAN_NS = 30 * 86_400 * 10**9


def events_table(seed: int, n_events: int, n_users: int) -> pa.Table:
    """The driver's ``events`` shape: ns timestamps over 30 days,
    uniform user and type, exponential ``value`` (mean 50, 2 dp)."""
    r = _rng(seed, _EVENTS)
    ts = np.sort(r.integers(0, _EVENTS_SPAN_NS, n_events)) + _EVENTS_T0_NS
    props = [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_events)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("ns")),
            "user_id": pa.array(r.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in r.integers(0, len(EVENT_TYPES), n_events)]
            ),
            "value": pa.array(np.round(r.exponential(50.0, n_events), 2)),
            "props": pa.array(props),
        }
    )


# --- documents / embeddings (curate_batch, serve_hybrid) ---------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
_LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
_HEADERS = [
    "dup dup the spark stream data",
    "dup table key dup row merge",
    "dup batch dup window join scan",
]


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """Documents over a 30-word vocabulary, 5-100 tokens each, with
    boilerplate headers (line dedup), exact copies (exact dedup) and
    1-3-token edits of earlier docs (MinHash near-duplicates)."""
    r = _rng(seed, _DOCS)
    texts: list[str] = []
    for i in range(n_docs):
        u = r.random()
        if i > 10 and u < 0.02:  # exact copy
            texts.append(texts[int(r.integers(0, i))])
            continue
        if i > 10 and u < 0.08:  # near duplicate: edit a few tokens
            toks = texts[int(r.integers(0, i))].split(" ")
            for _ in range(int(r.integers(1, 4))):
                toks[int(r.integers(0, len(toks)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
            continue
        n = int(r.integers(5, 101))
        body = " ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), n))
        if u > 0.88:
            body = _HEADERS[int(r.integers(0, len(_HEADERS)))] + " " + body
        texts.append(body)
    langs = [LANGS[j] for j in r.choice(len(LANGS), n_docs, p=_LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings_table(seed: int, n_vecs: int, dim: int = 64) -> pa.Table:
    r = _rng(seed, _EMB)
    vecs = r.normal(0.0, 0.125, (n_vecs, dim)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_vecs, dtype=np.int32)),
        }
    )


def write_table(table: pa.Table, root: str, name: str) -> str:
    """Write ``<root>/<name>.parquet`` (the catalog's table layout)."""
    return _write_parquet(table, os.path.join(root, f"{name}.parquet"))


def serve_queries(seed: int, n_queries: int, n_vecs: int, n_terms: int = 3):
    """Request pool for serve_hybrid: (query_id, text) with query_id a
    distinct vec_id (the more-like-this dense query) and terms drawn
    Zipf-skewed over the vocabulary, so batches share hot terms."""
    r = _rng(seed, _QUERIES)
    ranks = np.arange(1, len(VOCAB) + 1, dtype=np.float64)
    p = (1.0 / ranks) / (1.0 / ranks).sum()
    order = r.permutation(len(VOCAB))  # which words are hot depends on seed
    qids = r.choice(n_vecs, n_queries, replace=False)
    out = []
    for qid in qids:
        picks = r.choice(len(VOCAB), n_terms, replace=False, p=p)
        out.append((int(qid), " ".join(VOCAB[order[j]] for j in picks)))
    return out


def batches(seed: int, pool: list, batch_size: int, index: int) -> list:
    """The ``index``-th request batch: ``batch_size`` distinct queries
    of the pool, drawn by (seed, index)."""
    r = _rng(seed, _QUERIES, index)
    return [pool[j] for j in sorted(r.choice(len(pool), batch_size, replace=False))]


# --- bronze fire/weather cycles (lakehouse_cycle) ----------------------

FIRE_TOPIC, WEATHER_TOPIC = "nasa_fires", "weather_data"
# FIXTURES.md bounding boxes (nasa_producer.py:19-28)
_BOXES = {
    "peninsula": ((35.5, 43.8), (-9.5, 4.5)),
    "canarias": ((27.5, 29.5), (-18.5, -13.0)),
}
STEP_S = 120.0  # simulated time between cycles
ON_TIME_S = 300.0  # ordinary rows lag their cycle by < 5 min
OUT_OF_ORDER_S = 480.0  # out-of-order rows lag < 8 min (inside the 10-min watermark)
LATE_S = (1800.0, 2400.0)  # late rows lag 30-40 min (beyond it)


class CycleGen:
    """Bronze fire and weather envelopes, one batch per cycle.

    Cycle ``c`` is a pure function of ``(seed, c)``. Base time is
    ``B_c = T0 + c * STEP_S``; station 0 and fire 0 always report at
    exactly ``B_c``, so the watermark in cycle ``c`` is
    ``B_{c-1} - 10 min``. Spark drops late rows against the previous
    batch's watermark (``B_{c-2} - 10 min``) and evicts dedup state
    against the current one, so the lag bands above are unambiguously
    on time or late. Each cycle holds exact replays of on-time rows of
    this and the previous cycle (dropped by the silver dedup state),
    out-of-order rows, and from cycle 2 on a few late rows (dropped by
    the watermark).
    ``expected`` lists the rows silver must keep."""

    def __init__(self, seed: int, n_stations: int = 30, fires: int = 60,
                 replay_frac: float = 0.06, late: int = 2):
        self.seed, self.fires, self.replay_frac, self.late = seed, fires, replay_frac, late
        r = _rng(seed, _STATIONS)
        # seed picks the day; cycles start 01:00 UTC and stay in that day
        self.t0 = 1_719_792_000.0 + 86_400.0 * int(r.integers(0, 60)) + 3600.0
        self.stations = []
        for i in range(n_stations):
            region = "canarias" if i % 6 == 5 else "peninsula"
            (la0, la1), (lo0, lo1) = _BOXES[region]
            self.stations.append(
                (f"station_{i:02d}", region,
                 round(float(r.uniform(la0, la1)), 4), round(float(r.uniform(lo0, lo1)), 4))
            )
        self._prev: tuple[int, list, list] | None = None

    def base(self, c: int) -> float:
        return self.t0 + c * STEP_S

    def _on_time(self, c: int):
        r = _rng(self.seed, _CYCLE, c)
        b = self.base(c)
        weather = []
        for i, (name, region, lat, lon) in enumerate(self.stations):
            lag = 0.0 if i == 0 else float(r.uniform(0.0, ON_TIME_S))
            temp = round(float(r.uniform(15.0, 35.0)), 1)
            if r.random() < 0.05:  # Kelvin-scale reading: EXTREME is reachable
                temp = round(303.15 + float(r.uniform(0.0, 5.0)), 2)
            weather.append({
                "source": "OpenWeather", "location_id": name, "lat": lat, "lon": lon,
                "wind_speed": round(float(r.uniform(5.0, 60.0)), 2),
                "wind_deg": float(r.integers(0, 361)),
                "humidity": float(r.integers(10, 91)),
                "temperature": temp, "timestamp": round(b - lag, 3),
                # producer extras the silver schema drops
                "region": region, "zone": f"z{i % 4}",
                "pressure": int(r.integers(990, 1031)), "clouds": int(r.integers(0, 101)),
                "weather_main": "Clear", "weather_desc": "clear sky",
            })
        fires = []
        for i in range(self.fires):
            if i == 0:  # anchor: the fire stream's max event time is B_c too
                fires.append(self._fire(r, b, 0.0, 0.0))
            elif r.random() < 0.15:
                fires.append(self._fire(r, b, OUT_OF_ORDER_S, ON_TIME_S))
            else:
                fires.append(self._fire(r, b, ON_TIME_S, 0.0))
        return r, weather, fires

    @staticmethod
    def _fire(r, b: float, max_lag: float, min_lag: float) -> dict:
        region = "peninsula" if r.random() < 0.85 else "canarias"  # skewed mix
        (la0, la1), (lo0, lo1) = _BOXES[region]
        return {
            "source": "NASA_VIIRS", "region": region,
            "lat": round(float(r.uniform(la0, la1)), 4),
            "lon": round(float(r.uniform(lo0, lo1)), 4),
            "temp_k": round(float(r.uniform(290.0, 400.0)), 2),
            "confidence": str(r.choice(["h", "h", "n", "n", "l"])),
            "timestamp": round(b - float(r.uniform(min_lag, max_lag)), 3),
        }

    def cycle(self, c: int):
        """-> (fire lines, weather lines, expected fires, expected weather)."""
        r, weather, fires = self._on_time(c)
        prev = self._prev if self._prev and self._prev[0] == c - 1 else None
        if c > 0 and prev is None:
            _, pw, pf = self._on_time(c - 1)
            prev = (c - 1, pw, pf)
        b = self.base(c)
        late = [self._fire(r, b, LATE_S[1], LATE_S[0]) for _ in range(self.late if c > 1 else 0)]
        pool_f = fires + (prev[2] if prev else [])
        pool_w = weather + (prev[1] if prev else [])
        n_rf = int(round(self.replay_frac * len(fires)))
        n_rw = int(round(self.replay_frac * len(weather)))
        replay_f = [pool_f[j] for j in r.integers(0, len(pool_f), n_rf)]
        replay_w = [pool_w[j] for j in r.integers(0, len(pool_w), n_rw)]
        f_rows = fires + late + replay_f
        w_rows = weather + replay_w
        f_rows = [f_rows[j] for j in r.permutation(len(f_rows))]
        w_rows = [w_rows[j] for j in r.permutation(len(w_rows))]
        self._prev = (c, weather, fires)
        return (
            _envelopes(FIRE_TOPIC, f_rows, "region", c),
            _envelopes(WEATHER_TOPIC, w_rows, "location_id", c),
            fires,
            weather,
        )


def _envelopes(topic: str, rows: list, key: str, c: int) -> list[str]:
    """Kafka-record-shaped JSON lines; ``value`` is the producer message."""
    return [
        json.dumps({
            "topic": topic, "partition": 0, "offset": c * 10_000 + k,
            "key": row[key], "value": json.dumps(row, separators=(",", ":")),
        }, separators=(",", ":"))
        for k, row in enumerate(rows)
    ]


def write_lines(lines: list[str], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
