"""Composed CURATION-SELECTION pipeline — flagship #6: the
quality-selection half of a pre-training data factory, chaining the
round-7 operator families end to end (each stage individually
oracle-certified; the composition carries its own end-to-end oracle,
flagship_curation_select):

  1. EXACT DEDUP      — keep the lowest-id row per text
                        (operators/dedup.py:exact_dedup)
  2. LINE DEDUP       — CCNet keep-first over 3-token lines; docs
                        reduced to nothing are dropped
                        (dedup.py:line_dedup_keep_first)
  3. NB QUALITY GATE  — learned Naive-Bayes log-odds classifier
                        (selection.py:nb_classify), weak-labeled by
                        the curated-sources provenance split and
                        TRAINED ON THE CLEANED TEXT of this very
                        pipeline (training upstream of dedup would
                        let boilerplate dominate the class counts);
                        keep docs with non-negative evidence —
                        margin net of the class prior (VERDICT r08
                        item 2, the DCLM/FineWeb-Edu rung)
  4. DSIR SELECTION   — hashed-n-gram importance weights over the
                        GATED text (target = lang='en'), top-k
                        manifest (operators/selection.py)

Ordering matters and is the production order: dedup before any LM —
duplicated boilerplate would otherwise dominate the raw bucket
counts and drag every classifier weight and selection weight toward
the boilerplate distribution (the same reason CCNet dedups before
its perplexity filter); the classifier gates before DSIR so the
importance model fits the quality-passing pool. The output manifest
(doc_id, lang, weight_fp, n_tokens) is the hand-off to the export
recipe (flagship_training_export), which rebalances and splits
whatever this stage selected.

Scale: stages 1-2 are the dedup family's bounded shuffles, stages
3-4 are each one scan + broadcast vocab-sized tables (128-row
weights, 1-row prior) + TakeOrderedAndProject — nothing here
re-scans text more than the stage that owns it.
Reference parity: raulJD13/eco-pulse-lakehouse's curate step
(fire_risk_processor.py) is filter-only; this flagship is the
engine's superset curation path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.catalog import load_table
from eco_pulse_lakehouse_spark.operators.dedup import (
    exact_dedup,
    line_dedup_keep_first,
)
from eco_pulse_lakehouse_spark.operators.selection import (
    _hashed_features,
    ratio_table,
)
from eco_pulse_lakehouse_spark.session import pin


def curation_select(
    docs: DataFrame,
    k: int = 100,
    chunk_tokens: int = 3,
    n_buckets: int = 128,
) -> DataFrame:
    """Dedup → line-dedup → NB quality gate → DSIR top-k manifest.
    Returns (doc_id, lang, weight_fp, n_tokens) for the k selected
    docs, ordered deterministically (weight desc, doc_id asc).

    The two LM stages (NB classifier + DSIR) share ONE
    feature-explode pass: the cleaned text is featurized once into a
    pinned (doc_id, bucket, n) doc-bucket table — the SAME artifact
    the streaming twins (t37/t41) maintain incrementally — and both
    the classifier's class counts and DSIR's target counts are then
    doc-bucket-sized joins against doc metadata, never a re-scan of
    text. Σ_bucket n·w_fp ≡ Σ_features w_fp (exact integers), so
    results are bit-identical to the per-operator forms
    (nb_classify / dsir_weights — pinned in tests). Naively
    composing the operators re-featurized the corpus three times:
    measured 8.4 s naive vs 5.2-6.3 s shared-featurize at sf0.1
    (raw layout)."""
    is_pos = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    # Pinned (r13): dd feeds BOTH the line-dedup stage and the
    # metadata join below — unpinned, the exact-dedup window (a full
    # shuffle of the text) ran twice.
    dd = (
        exact_dedup(docs, ["text"], "doc_id")
        .select("doc_id", "lang", "source", "text")
        .transform(pin)
    )
    ld = line_dedup_keep_first(dd, "doc_id", "text", chunk_tokens)
    # r14 (guide §2.4): doc metadata (lang, provenance label) rides
    # IN the doc-bucket table's group keys — they are constant per
    # doc_id, so the granularity is unchanged and the two metadata
    # joins (jb = dbc ⋈ meta for the NB stage, jk's lang join for
    # DSIR) plus the final manifest join against the cleaned text
    # disappear; n_tokens is derived from the table's own feature
    # count (2n−1 features per n-token doc, see budget_select).
    # `cleaned` then has ONE consumer, so its r13 pin is dropped too.
    cleaned = (
        dd.select("doc_id", "lang", "source")
        .join(ld.select("doc_id", "text_clean"), "doc_id")
        .filter(F.col("text_clean") != "")
        .select("doc_id", "lang", "source", F.col("text_clean").alias("text"))
    )
    dbc = (
        cleaned.select(
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

    # NB gate: class counts + evidence from the doc-bucket table
    # (evidence is prior-free, so the gate needs no prior row).
    nb_counts = dbc.groupBy("bucket").agg(
        F.sum(F.when(F.col("__is_p"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("c_target"),
        F.sum("n").cast("bigint").alias("c_raw"),
    )
    # nb_log_odds semantics: c_neg = c_raw - c_pos; ratio_table wants
    # (pos, neg) so rebuild the two-class split before the shared tree
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

    # DSIR over the gated pool: same dbc, target = lang='en'
    jk = dbc.join(kept_ids, "doc_id")
    ds_counts = jk.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("c_target"),
        F.sum("n").cast("bigint").alias("c_raw"),
    )
    ds_wts = ratio_table(ds_counts, n_buckets)
    w = (
        jk.join(F.broadcast(ds_wts.select("bucket", "w_fp")), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("n") * F.col("w_fp")).alias("weight_fp"),
            F.sum("n").alias("__nf"),
        )
    )
    return (
        w.select(
            "doc_id",
            "lang",
            "weight_fp",
            # n_tokens ≡ token_count(cleaned text): the feature stream
            # is unigrams + bigrams, 2n−1 features for n ≥ 1 tokens
            # (text_clean != '' ⇒ n ≥ 1) — exact integer inversion
            F.expr("(__nf + 1) div 2").cast("bigint").alias("n_tokens"),
        )
        .orderBy(F.col("weight_fp").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def flagship_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_select(load_table(spark, sf_dir, "documents"))
