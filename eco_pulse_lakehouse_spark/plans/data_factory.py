"""Flagship #8 — the complete PRETRAINING DATA FACTORY chain.

The full quality ladder a pre-training corpus actually runs, in
production order, every rung individually certified and the
composition carrying its own end-to-end oracle
(corpus/northstar.py:flagship_data_factory):

  1. EXACT DEDUP      — keep the lowest-id row per text
                        (operators/dedup.py:exact_dedup)
  2. LINE DEDUP       — CCNet keep-first over 3-token lines
                        (dedup.py:line_dedup_keep_first)
  3. PERPLEXITY GATE  — CCNet head/middle/tail terciles per language
                        over the CLEANED text, drop the tail
                        (retrieval.py:perplexity_buckets — the
                        heuristic-LM rung)
  4. NB QUALITY GATE  — learned Naive-Bayes log-odds classifier,
                        weak-labeled by curated-source provenance,
                        TRAINED on the perplexity-passing pool; keep
                        non-negative evidence (selection.py — the
                        learned-classifier rung)
  5. DSIR WEIGHTS     — hashed-n-gram importance vs the lang='en'
                        target over the doubly-gated pool
  6. TOKEN BUDGET     — greedy weight-order prefix until the token
                        budget, cumulative sum DISTRIBUTED
                        (rank.py:global_running_sum)

Ordering is the CCNet/DCLM production order: dedup before any LM
(boilerplate would drag every model toward itself), the cheap
heuristic gate before the learned one (the classifier trains on a
cleaner pool and scores fewer docs), selection last, and the budget
— not a row count — as the stopping rule, because training runs
consume tokens.

Scale: stages 1–2 are the dedup family's bounded shuffles; stage 3
is the distributed-rank tercile (no per-language single-task sort);
stages 4–5 share ONE feature-explode pass — the pinned
(doc_id, bucket, n) doc-bucket table, the same artifact the
streaming twins (t37/t41) maintain incrementally — so the gated
text is featurized exactly once; stage 6 is the range-partitioned
running sum. Nothing re-scans text beyond the stage that owns it.

Reference parity: raulJD13/eco-pulse-lakehouse's curate step
(fire_risk_processor.py) is filter-only; this flagship is the
engine's end-to-end superset, composing flagships #6/#7's rungs
into the full factory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.catalog import load_table
from eco_pulse_lakehouse_spark.operators.dedup import (
    exact_dedup,
    line_dedup_keep_first,
)
from eco_pulse_lakehouse_spark.operators.rank import global_running_sum
from eco_pulse_lakehouse_spark.operators.retrieval import perplexity_buckets
from eco_pulse_lakehouse_spark.operators.selection import (
    _hashed_features,
    ratio_table,
)
from eco_pulse_lakehouse_spark.session import pin


def data_factory_manifest(
    docs: DataFrame,
    token_budget: int = 4000,
    chunk_tokens: int = 3,
    n_buckets: int = 128,
    keep_buckets: int = 2,
    dsir_target: str = "en",
) -> DataFrame:
    """Dedup → line-dedup → perplexity gate → NB gate → DSIR →
    token-budget manifest. Returns (doc_id, lang, weight_fp,
    n_tokens, run_tokens) for the selected prefix in weight order.

    ``dsir_target`` picks stage 5's target distribution:
      * ``"en"`` — the flagship #8 recipe: importance vs the
        lang='en' target over the doubly-gated pool.
      * ``"nb_kept"`` — the LEARNED-target variant (the DCLM-style
        feedback loop): the target distribution is the NB
        classifier's own kept pool, the raw distribution is the full
        perplexity-passing pool — so DSIR up-weights documents that
        look like what the learned gate approves rather than like a
        fixed language slice. Counts come from the SAME pinned
        doc-bucket featurize pass (only the flag differs); scoring
        still runs over the kept docs."""
    is_pos = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    # Pinned (r13, the curation_select fix): dd feeds both the
    # line-dedup stage and the metadata join — unpinned, the
    # exact-dedup window ran twice.
    dd = (
        exact_dedup(docs, ["text"], "doc_id")
        .select("doc_id", "lang", "source", "text")
        .transform(pin)
    )
    ld = line_dedup_keep_first(dd, "doc_id", "text", chunk_tokens)
    cleaned = (
        dd.select("doc_id", "lang", "source")
        .join(ld.select("doc_id", "text_clean"), "doc_id")
        .filter(F.col("text_clean") != "")
        .select("doc_id", "lang", "source", F.col("text_clean").alias("text"))
        .transform(pin)
    )
    ppx = perplexity_buckets(cleaned, "doc_id", "text", "lang", n_buckets=3)
    # r14 (guide §2.4, the curation_select rewrite): doc metadata
    # rides in the doc-bucket group keys (constant per doc_id — same
    # granularity), killing the jb/meta joins and the final manifest
    # join; n_tokens derives from the feature count (2n−1 per n-token
    # doc). `pool` then has one consumer, so its pin is dropped.
    pool = cleaned.join(
        ppx.filter(F.col("ppx_bucket") <= keep_buckets).select("doc_id"),
        "doc_id",
    )

    dbc = (
        pool.select(
            "doc_id",
            "lang",
            is_pos.alias("__is_p"),
            F.explode(_hashed_features(F.col("text"), n_buckets)).alias(
                "bucket"
            ),
        )
        .groupBy("doc_id", "lang", "__is_p", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .transform(pin)  # the one featurize pass
    )

    nb_counts = dbc.groupBy("bucket").agg(
        F.sum(F.when(F.col("__is_p"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("c_target"),
        F.sum("n").cast("bigint").alias("c_raw"),
    )
    nb_wts = ratio_table(
        nb_counts.select(
            "bucket",
            F.col("c_target"),
            (F.col("c_raw") - F.col("c_target")).alias("c_raw"),
        ),
        n_buckets,
    )
    kept_ids = (
        dbc.join(F.broadcast(nb_wts.select("bucket", "w_fp")), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("w_fp")).alias("__ev"))
        .filter(F.col("__ev") >= 0)
        .select("doc_id")
    )

    if dsir_target == "en":
        jk = dbc.join(kept_ids, "doc_id")
        ds_counts = jk.groupBy("bucket").agg(
            F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("c_target"),
            F.sum("n").cast("bigint").alias("c_raw"),
        )
    elif dsir_target == "nb_kept":
        # learned target: count over the FULL perplexity pool with
        # the kept flag (same pinned dbc — no re-featurize), score
        # the kept docs below
        flagged = dbc.join(
            kept_ids.withColumn("__kept", F.lit(True)), "doc_id", "left"
        ).withColumn("__kept", F.coalesce(F.col("__kept"), F.lit(False)))
        ds_counts = flagged.groupBy("bucket").agg(
            F.sum(F.when(F.col("__kept"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("c_target"),
            F.sum("n").cast("bigint").alias("c_raw"),
        )
        jk = dbc.join(kept_ids, "doc_id")
    else:
        raise ValueError(f"unknown dsir_target {dsir_target!r}")
    ds_wts = ratio_table(ds_counts, n_buckets)
    joined = (
        jk.join(F.broadcast(ds_wts.select("bucket", "w_fp")), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("n") * F.col("w_fp")).alias("weight_fp"),
            F.sum("n").alias("__nf"),
        )
        .withColumn(
            # n_tokens ≡ token_count(pool text): 2n−1 features for
            # n ≥ 1 tokens (text_clean != '' ⇒ n ≥ 1) — exact inverse
            "n_tokens",
            F.expr("(__nf + 1) div 2").cast("bigint"),
        )
        .drop("__nf")
    )
    run = global_running_sum(
        joined,
        [F.col("weight_fp").desc(), F.col("doc_id").asc()],
        ["n_tokens"],
    )
    return run.filter(F.col("run_n_tokens") <= token_budget).select(
        "doc_id",
        "lang",
        "weight_fp",
        "n_tokens",
        F.col("run_n_tokens").alias("run_tokens"),
    )


def flagship_data_factory(spark: SparkSession, sf_dir: str) -> DataFrame:
    return data_factory_manifest(load_table(spark, sf_dir, "documents"))
