"""The four workloads. Each drives the engine's public entry points.

Life cycle, driven by run.py:

* ``generate()``  — the benchmark's own seeded inputs (not timed);
* ``setup(spark)``— everything the engine does before the first op
  (staging, pinned builds); timed as ``setup_s``, repeated per rep;
* ``teardown()``  — release what one setup rep built;
* ``reference()`` — untimed reference results for the output checks;
* ``op(i)``       — one unit of work; returns (items, check) where
  ``check()`` runs outside the timed region and returns an error
  string or None;
* ``final_check()`` — whole-run checks; returns an error string or None.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from perfbench import check as ck
from perfbench import gen


def release(spark, keep: frozenset = frozenset()) -> None:
    """Unpersist every pinned RDD not in ``keep`` (blocking) and drop
    the table cache — the between-op hygiene of a long-lived session."""
    for rdd_id, jrdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rdd_id not in keep:
            jrdd.unpersist(True)
    spark.catalog.clearCache()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    item_unit = ""
    spans: tuple = ()  # the engine calls this workload times, by module
    queries: tuple = ()  # streaming queries an op drives

    def __init__(self, seed: int, work: str, cores: int, tracer):
        self.seed, self.work, self.cores, self.tracer = seed, work, cores, tracer
        self.gen_dir = os.path.join(work, "gen")
        self.rep = 0
        self.spark = None
        self.keep: frozenset = frozenset()

    def rep_dir(self, *parts: str) -> str:
        return os.path.join(self.work, f"rep{self.rep}", *parts)

    def stage(self, names: tuple[str, ...], files: int) -> str:
        """Stage generated tables as multi-file silver via catalog.load_table."""
        from eco_pulse_lakehouse_spark.catalog import load_table, table_path

        silver = self.rep_dir("silver")
        with self.tracer.span("catalog.load_table"):
            for name in names:
                load_table(self.spark, self.gen_dir, name).repartition(files).write.parquet(
                    table_path(silver, name)
                )
        return silver

    def generate(self) -> None:
        pass

    def setup(self, spark) -> None:
        self.spark = spark

    def teardown(self) -> None:
        release(self.spark)
        shutil.rmtree(self.rep_dir(), ignore_errors=True)
        self.rep += 1

    def reference(self) -> None:
        pass

    def after_op(self) -> None:
        release(self.spark, self.keep)

    def op_latency(self, measured: float) -> float:
        return measured

    def final_check(self) -> str | None:
        return None

    def _oracle_check(self, silver: str, table: str, pairs) -> str | None:
        """Compare each (oracle name, engine frame) against the DuckDB
        twin in ``oracle_sql()`` over the staged silver files."""
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        views = {table: os.path.join(silver, f"{table}.parquet", "*.parquet")}
        errors = []
        for name, df in pairs:
            ok, detail = ck.same(df.toPandas(), ck.duckdb_frame(views, oracles[name]))
            if not ok:
                errors.append(f"{name}: {detail}")
        return "; ".join(errors) or None


# --- lakehouse_cycle ----------------------------------------------------

ENVELOPE_SCHEMA = "topic STRING, partition INT, offset BIGINT, key STRING, value STRING"
FIRE_SCHEMA = (
    "source STRING, region STRING, lat DOUBLE, lon DOUBLE, "
    "temp_k DOUBLE, confidence STRING, timestamp DOUBLE"
)
WEATHER_SCHEMA = (
    "source STRING, location_id STRING, lat DOUBLE, lon DOUBLE, "
    "wind_speed DOUBLE, wind_deg DOUBLE, humidity DOUBLE, "
    "temperature DOUBLE, timestamp DOUBLE"
)


class LakehouseCycle(Workload):
    """Bronze file lands → silver drain → incremental gold cycle."""

    name = "lakehouse_cycle"
    item_unit = "bronze rows/s"
    spans = ("streaming.pipeline.to_silver", "plans.gold.run_gold_cycle")
    FIRES_PER_CYCLE = 60

    def generate(self) -> None:
        self.cycles = gen.CycleGen(self.seed, fires=self.FIRES_PER_CYCLE)

    def setup(self, spark) -> None:
        from eco_pulse_lakehouse_spark.streaming.pipeline import (
            parse_json_envelope,
            to_silver,
        )

        super().setup(spark)
        self.exp_fires, self.exp_weather = [], []
        self.c = 0
        self.gold = self.rep_dir("gold")
        self.silver, qs = {}, []
        for topic, schema, keys in (
            ("fires", FIRE_SCHEMA, ["event_time", "lat", "lon"]),
            ("weather", WEATHER_SCHEMA, ["event_time", "location_id"]),
        ):
            bronze = self.rep_dir("bronze", topic)
            os.makedirs(bronze)
            self.silver[topic] = self.rep_dir("silver", topic)
            raw = spark.readStream.schema(ENVELOPE_SCHEMA).json(bronze)
            parsed = parse_json_envelope(raw, "value", schema).withColumn(
                "event_time", F.timestamp_seconds("timestamp")
            )
            qs.append(
                to_silver(parsed, "event_time", keys)
                .writeStream.format("parquet")
                .option("path", self.silver[topic])
                .option("checkpointLocation", self.rep_dir("checkpoint", topic))
                .outputMode("append")
                .queryName(f"silver_{topic}_{self.rep}")
                .start()
            )
        self.queries = tuple(qs)
        for q in qs:  # the initial empty batch belongs to setup
            q.processAllAvailable()

    def teardown(self) -> None:
        for q in self.queries:
            q.stop()
        self.queries = ()
        super().teardown()

    def op(self, i: int):
        from eco_pulse_lakehouse_spark.plans.gold import run_gold_cycle

        c = self.c
        self.c += 1
        f_lines, w_lines, f_exp, w_exp = self.cycles.cycle(c)
        staging = self.rep_dir("landing")
        os.makedirs(staging, exist_ok=True)
        moves = []
        for topic, lines in (("fires", f_lines), ("weather", w_lines)):
            tmp = os.path.join(staging, f"{topic}-{c:05d}.json")
            gen.write_lines(lines, tmp)
            moves.append((tmp, self.rep_dir("bronze", topic, f"cycle-{c:05d}.json")))
        landed_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        for src, dst in moves:
            os.rename(src, dst)
        with self.tracer.span("streaming.pipeline.to_silver", self.queries):
            for q in self.queries:
                q.processAllAvailable()
        with self.tracer.span("plans.gold.run_gold_cycle"):
            # silver rows of this cycle: micro-batch timestamp >= landing
            fires = self.spark.read.parquet(self.silver["fires"]).filter(
                F.col("processed_at") >= F.timestamp_millis(F.lit(landed_ms))
            )
            weather = self.spark.read.parquet(self.silver["weather"])
            run_gold_cycle(fires, weather, self.gold, self.spark)
        self.last_latency = time.perf_counter() - t0
        self.exp_fires += [dict(r, cycle=c) for r in f_exp]
        self.exp_weather += [dict(r, cycle=c) for r in w_exp]
        return len(f_lines) + len(w_lines), None

    def op_latency(self, measured: float) -> float:
        """Freshness runs from the moment the bronze files land."""
        return self.last_latency

    def final_check(self) -> str | None:
        import pandas as pd

        errors = []
        for topic, exp in (("fires", self.exp_fires), ("weather", self.exp_weather)):
            n = self.spark.read.parquet(self.silver[topic]).count()
            if n != len(exp):
                errors.append(f"silver {topic}: {n} rows, expected {len(exp)}")
        cols = ["timestamp", "fire_lat", "fire_lon", "weather_station", "wind_speed",
                "temperature", "humidity", "risk_level", "distance_deg"]
        got = self.spark.read.parquet(self.gold).select(*cols).toPandas()
        want = ck.duckdb_frame(
            {}, ck.GOLD_REPLAY_SQL,
            {"fires": pd.DataFrame(self.exp_fires), "weather": pd.DataFrame(self.exp_weather)},
        )
        ok, detail = ck.same(got, want)
        if not ok:
            errors.append(f"gold: {detail}")
        return "; ".join(errors) or None


# --- gold_recompute -----------------------------------------------------


class GoldRecompute(Workload):
    """Full dense gold refresh plus the k-nearest variant."""

    name = "gold_recompute"
    item_unit = "silver event rows/s"
    spans = ("catalog.load_table", "plans.gold.gold_risk_events",
             "plans.gold.gold_risk_events_topk")
    N_EVENTS, N_USERS, FILES = 20_000, 400, 8

    def generate(self) -> None:
        gen.write_table(gen.events_table(self.seed, self.N_EVENTS, self.N_USERS),
                        self.gen_dir, "events")

    def setup(self, spark) -> None:
        super().setup(spark)
        self.silver = self.stage(("events",), self.FILES)

    def _frames(self):
        from eco_pulse_lakehouse_spark.plans.gold import (
            gold_risk_events,
            gold_risk_events_topk,
        )

        return (
            ("flagship_gold_risk", "plans.gold.gold_risk_events",
             lambda: gold_risk_events(self.spark, self.silver)),
            ("flagship_gold_risk_topk", "plans.gold.gold_risk_events_topk",
             lambda: gold_risk_events_topk(self.spark, self.silver, k=3)),
        )

    def op(self, i: int):
        for _, span, build in self._frames():
            with self.tracer.span(span):
                noop(build())
        return self.N_EVENTS, None

    def final_check(self) -> str | None:
        pairs = [(oracle, build()) for oracle, _, build in self._frames()]
        return self._oracle_check(self.silver, "events", pairs)


# --- serve_hybrid -------------------------------------------------------


class ServeHybrid(Workload):
    """Request batches against pinned postings, int8 store and BM25 stats."""

    name = "serve_hybrid"
    item_unit = "queries/s"
    spans = ("catalog.load_table", "operators.retrieval.term_postings",
             "plans.rag_context.int8_store", "operators.retrieval.bm25_shared_stats",
             "plans.hybrid_serving.hybrid_serving")
    N_DOCS, N_VECS, FILES = 600, 500, 8
    POOL, BATCH = 32, 8

    def generate(self) -> None:
        gen.write_table(gen.documents_table(self.seed, self.N_DOCS), self.gen_dir, "documents")
        gen.write_table(gen.embeddings_table(self.seed, self.N_VECS), self.gen_dir, "embeddings")
        self.pool = gen.serve_queries(self.seed, self.POOL, self.N_VECS)

    def setup(self, spark) -> None:
        from eco_pulse_lakehouse_spark.catalog import load_table
        from eco_pulse_lakehouse_spark.operators.retrieval import (
            bm25_shared_stats,
            term_postings,
        )
        from eco_pulse_lakehouse_spark.plans.rag_context import int8_store

        super().setup(spark)
        silver = self.stage(("documents", "embeddings"), self.FILES)
        self.docs = load_table(spark, silver, "documents").select(
            F.col("doc_id").cast("bigint").alias("doc_id"), "text"
        )
        self.emb = load_table(spark, silver, "embeddings")
        with self.tracer.span("operators.retrieval.term_postings"):
            self.postings = term_postings(self.docs, "doc_id", "text").localCheckpoint(eager=True)
        with self.tracer.span("plans.rag_context.int8_store"):
            self.store = int8_store(self.emb).localCheckpoint(eager=True)
        with self.tracer.span("operators.retrieval.bm25_shared_stats"):
            self.stats = bm25_shared_stats(self.postings, "doc_id")
        self.keep = frozenset(spark.sparkContext._jsc.getPersistentRDDs().keys())

    def _serve(self, queries):
        from eco_pulse_lakehouse_spark.plans.hybrid_serving import hybrid_serving

        return hybrid_serving(
            self.docs, self.emb, queries, postings=self.postings,
            quantized=self.store, shared_stats=self.stats,
        ).collect()

    def reference(self) -> None:
        """One one-shot call over the whole pool: each batch's rows
        must equal these rows for the same queries."""
        self.expected: dict[int, list] = {}
        for row in self._serve(self.pool):
            self.expected.setdefault(row.query_id, []).append(tuple(row))
        release(self.spark, self.keep)

    def op(self, i: int):
        batch = gen.batches(self.seed, self.pool, self.BATCH, i)
        with self.tracer.span("plans.hybrid_serving.hybrid_serving"):
            rows = self._serve(batch)

        def check():
            got = sorted(tuple(r) for r in rows)
            want = sorted(t for qid, _ in batch for t in self.expected.get(qid, []))
            if got != want:
                return f"batch {i}: {len(got)} rows differ from the one-shot {len(want)}"
            return None

        return len(batch), check


# --- curate_batch -------------------------------------------------------


class CurateBatch(Workload):
    """MinHash near-dup candidates, then dedup → NB gate → DSIR top-k."""

    name = "curate_batch"
    item_unit = "documents/s"
    spans = ("catalog.load_table", "operators.dedup.minhash_lsh_pairs",
             "plans.curation.curation_select")
    N_DOCS, FILES = 1_500, 8

    def generate(self) -> None:
        gen.write_table(gen.documents_table(self.seed, self.N_DOCS), self.gen_dir, "documents")

    def setup(self, spark) -> None:
        super().setup(spark)
        self.silver = self.stage(("documents",), self.FILES)

    def _frames(self):
        from eco_pulse_lakehouse_spark.catalog import load_table
        from eco_pulse_lakehouse_spark.operators.dedup import (
            minhash_lsh_pairs,
            poly_token_hash,
        )
        from eco_pulse_lakehouse_spark.plans.curation import curation_select

        docs = load_table(self.spark, self.silver, "documents")
        return (
            ("x2_minhash_lsh", "operators.dedup.minhash_lsh_pairs",
             lambda: minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=32, bands=8,
                                       token_hash=poly_token_hash)),
            ("flagship_curation_select", "plans.curation.curation_select",
             lambda: curation_select(docs)),
        )

    def op(self, i: int):
        for _, span, build in self._frames():
            with self.tracer.span(span):
                noop(build())
        return self.N_DOCS, None

    def final_check(self) -> str | None:
        pairs = [(oracle, build()) for oracle, _, build in self._frames()]
        return self._oracle_check(self.silver, "documents", pairs)


WORKLOADS = {w.name: w for w in (LakehouseCycle, GoldRecompute, ServeHybrid, CurateBatch)}

