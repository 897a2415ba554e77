"""Physical-plan assertions (SURVEY.md §4.2, the 100 TB checklist):
filters/projections reach the parquet scan, small dims broadcast,
the grid range-join is a HASH join (never CartesianProduct/BNLJ),
partition pruning fires on hive layouts, and whole-stage codegen
covers the hot paths.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.catalog import load_table
from eco_pulse_lakehouse_spark.corpus import relational, extended, northstar

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_pushdown_reaches_parquet(spark):
    df = relational.QUERIES["s4_scan_pushdown"](spark, SF)
    plan = _formatted(df)
    assert "PushedFilters:" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThanOrEqual(l_quantity" in plan
    # column pruning: ReadSchema carries only the 4 selected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_small_dim_join_is_broadcast(spark):
    df = relational.QUERIES["j3_equi_join_3way"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_grid_range_join_is_hash_join_not_cartesian(spark):
    df = relational.QUERIES["j2_range_join_grid"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


def test_naive_range_join_is_nested_loop(spark):
    # the as-built reference shape — documented contrast to the grid form
    df = relational.QUERIES["j2_range_join_naive"](spark, SF)
    plan = _plan(df)
    assert ("BroadcastNestedLoopJoin" in plan) or ("CartesianProduct" in plan)


def test_partition_pruning_on_hive_layout(spark):
    extended.QUERIES["s11_partitioned_scan"](spark, SF)  # writes the layout
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), "eco_pulse_corpus", "s11_part_sf0.01"
    )
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = _formatted(df)
    assert "PartitionFilters" in plan
    # only one of five event_type directories survives pruning
    scan = df._jdf.queryExecution().executedPlan().toString()
    assert "event_type=click" in scan or "PartitionFilters: [isnotnull(event_type" in plan


def test_topk_uses_take_ordered(spark):
    df = relational.QUERIES["o3_topk_orders"](spark, SF)
    assert "TakeOrderedAndProject" in _plan(df)


def test_whole_stage_codegen_on_hot_path(spark):
    df = relational.QUERIES["a7_summary"](spark, SF)
    df.collect()  # AQE finalizes (and annotates codegen) only at runtime
    plan = _plan(df)
    # compact plan marks WholeStageCodegen stages with a "*(n)" prefix
    assert "*(" in plan
    # map-side combine: partial agg below the exchange
    assert "partial_sum" in plan or "partial_count" in plan


def test_latest_per_key_single_shuffle(spark):
    """W1 must shuffle exactly once (on the partition key)."""
    df = relational.QUERIES["w1_latest_per_key"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange") == 1


def test_bucketed_join_avoids_shuffle(spark):
    """Bucketed tables co-locate join keys at write time: the
    bucket-aligned equi-join must run with ZERO exchanges
    (sources/batch_io.py:write_bucketed_table) — at 100 TB this is
    the repeated-join escape from paying the shuffle every query."""
    from eco_pulse_lakehouse_spark.sources.batch_io import write_bucketed_table

    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    write_bucketed_table(o, "b_orders", ["o_custkey"], 8, ["o_custkey"])
    write_bucketed_table(c, "b_customer", ["c_custkey"], 8, ["c_custkey"])
    # force the shuffle-join path: at corpus scale the planner would
    # broadcast instead (and rightly bypass bucketing)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        j.collect()
        plan = _plan(j)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_sum_two_phase_no_single_hot_partition(spark):
    """The salted plan aggregates on (key, salt) before key — two
    exchanges by design, but the first is on the salted compound."""
    df = extended.QUERIES["skew2_salted_sum"](spark, SF)
    plan = _plan(df)
    assert "__salt" in plan


def test_hash_split_is_shuffle_free(spark):
    """Split assignment is a pure projection over the scan — no
    Exchange anywhere (the property that lets it run at scan speed
    over 100 TB)."""
    from eco_pulse_lakehouse_spark.operators.sampling import hash_split

    d = load_table(spark, SF, "documents").select(
        F.col("doc_id").cast("bigint"), "lang"
    )
    plan = _plan(hash_split(d, "doc_id"))
    assert "Exchange" not in plan, plan


def test_chunk_payloads_is_shuffle_free(spark):
    """Paging a payload column is explode+projection — map-side only."""
    from eco_pulse_lakehouse_spark.operators import multimodal as xm

    d = load_table(spark, SF, "documents")
    plan = _plan(xm.chunk_payloads(xm.to_multimodal(d), page_bytes=64))
    assert "Exchange" not in plan, plan


def test_pack_documents_single_shuffle(spark):
    """Sharded greedy packing shuffles ONCE (on the shard key) into
    applyInPandas groups — no second exchange afterwards."""
    from eco_pulse_lakehouse_spark.functions.text import bpe_ish_token_count
    from eco_pulse_lakehouse_spark.operators.packing import pack_documents

    d = load_table(spark, SF, "documents").select(
        F.col("doc_id").cast("bigint"),
        bpe_ish_token_count(F.col("text")).alias("tok"),
    )
    plan = _plan(pack_documents(d, "doc_id", "tok", 256, num_shards=8))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ann_refined_no_cartesian(spark):
    """The composed LSH->refine pipeline must be equi-joins all the
    way down — never a CartesianProduct/BNLJ."""
    from eco_pulse_lakehouse_spark.operators.similarity import (
        ann_neardup_refined,
    )

    e = load_table(spark, SF, "embeddings")
    plan = _plan(ann_neardup_refined(e, threshold=0.3, bits=6, tables=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multiprobe_lsh_no_cartesian_single_probe_join(spark):
    """Multi-probe LSH: probe fan-out happens BELOW the join (explode
    of ≤ n_flip+1 signatures per query row), and the bucket match is
    one equi-join on the 8-byte signature — no CartesianProduct/BNLJ,
    exactly one join in the plan."""
    from eco_pulse_lakehouse_spark.operators.similarity import (
        cosine_topk_lsh_multiprobe,
    )

    e = load_table(spark, SF, "embeddings")
    plan = _plan(cosine_topk_lsh_multiprobe(e, bits=8, n_flip=2, k=10))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert n_joins == 1, plan


def test_bpe_pair_count_single_exchange_no_join(spark):
    """The BPE learning round's pair-count aggregation must be one
    map-side-combinable groupBy over the vocab segmentations — a
    single Exchange, no join anywhere (pairs are built row-locally
    from the segment array, never via self-join)."""
    from eco_pulse_lakehouse_spark.operators.bpe import (
        _adjacent_pairs,
        _char_segmentation,
    )
    from eco_pulse_lakehouse_spark.functions.text import tokens

    docs = load_table(spark, SF, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    seg = words.select("f", _char_segmentation(F.col("w")).alias("seg"))
    pairs = (
        seg.select("f", F.explode(_adjacent_pairs("seg")).alias("p"))
        .groupBy("p.left_sym", "p.right_sym")
        .agg(F.sum("f").alias("pair_count"))
    )
    plan = _plan(pairs)
    assert "Join" not in plan, plan
    # two aggregations (vocab build + pair count), each partial+final:
    # the pair-count side contributes exactly one extra Exchange on
    # top of the word-frequency groupBy's
    assert plan.count("Exchange") == 2, plan
    assert "partial_sum" in plan or "partial" in plan.lower(), plan


def test_catalog_bucketed_corpus_entry_single_exchange(spark):
    """cat_bucketed_join_agg: the fact-fact join runs on bucket-aligned
    managed tables, so the ONLY Exchange in the executed plan is the
    5-group final aggregation — the join itself is shuffle-free."""
    from eco_pulse_lakehouse_spark.corpus import tpch

    df = tpch.QUERIES["cat_bucketed_join_agg"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    assert "SortMergeJoin" in plan, plan


def test_profile_table_single_pass(spark):
    """profile_table folds every column's metrics into one
    aggregation job: exactly one scan of the input (one Expand for
    the multi-count-distinct), never a per-column job."""
    from eco_pulse_lakehouse_spark.operators.quality import profile_table

    df = profile_table(
        load_table(spark, SF, "orders"),
        ["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Expand") <= 1 + plan.count("Exchange"), plan


def test_bloom_prefilter_probe_is_scan_side_filter(spark):
    """The Bloom probe must be a Filter on the fact side (bit tests
    against the broadcast bitmap literal), and the final join a hash
    join — never a cartesian against the dim rows."""
    from eco_pulse_lakehouse_spark.operators.joins import bloom_join

    fact = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    dim = load_table(spark, SF, "customer").select("c_custkey")
    plan = _plan(bloom_join(fact, dim, "o_custkey", "c_custkey"))
    assert "element_at" in plan, plan          # bitmap probe present
    assert "xxhash64" in plan, plan            # hash positions computed
    assert "CartesianProduct" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan


def test_bm25_broadcasts_term_tables_not_postings(spark):
    """BM25's query-term list, df table, and corpus stats must ride
    broadcasts; the only non-broadcast joins key on the doc id
    (postings ⨝ doc-length — co-keyed at scale)."""
    from eco_pulse_lakehouse_spark.operators.retrieval import bm25_topk

    d = load_table(spark, SF, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    plan = _plan(bm25_topk(d, "doc_id", "text", [(1, "hash join")], k=5))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pq_encode_is_map_only(spark):
    """PQ encode must be a pure map pass over the data side: the
    codebook arrives via BroadcastNestedLoopJoin/BroadcastExchange
    (one-row map), and NO shuffle (Exchange hashpartitioning) of the
    vector side appears anywhere."""
    from eco_pulse_lakehouse_spark.operators import similarity as xs

    emb = load_table(spark, SF, "embeddings")
    qz = xs.quantize_embeddings(emb, "embedding", "q_vec", n_levels=127)
    cb = xs.pq_codebooks(qz, "vec_id", "q_vec", 8, 16, 64, iterations=0)
    enc = xs.pq_encode(qz, cb, "vec_id", "q_vec", 8, 16, 64)
    plan = _plan(enc)
    assert "BroadcastExchange" in plan
    assert "hashpartitioning" not in plan, plan


def test_cms_estimate_broadcasts_sketch(spark):
    """The sketch side of a CMS point-query join must broadcast —
    candidates never shuffle to meet a <=256-row table."""
    from eco_pulse_lakehouse_spark.functions.text import tokens
    from eco_pulse_lakehouse_spark.operators import sketches as sk

    d = load_table(spark, SF, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("w"))
    sketch = sk.cms_build(tok, "w", depth=4, width=64)
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("exact_count"))
    est = sk.cms_estimate(sketch, vocab, "w", depth=4, width=64)
    assert "BroadcastHashJoin" in _plan(est)


def test_ivfpq_candidate_join_no_cartesian(spark):
    """IVF-PQ candidate generation must be an equi-join on the list id
    (broadcast probe side), never a cross product."""
    from eco_pulse_lakehouse_spark.operators import similarity as xs

    emb = load_table(spark, SF, "embeddings")
    qz = xs.quantize_embeddings(emb, "embedding", "q_vec", n_levels=127)
    qs = qz.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "q_vec"
    )
    plan = _plan(xs.ivfpq_topk(qz, qs, "vec_id", "q_vec", "q_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_sax_motif_bucket_join_is_equi_join(spark):
    """Motif candidates only ever meet in a shared-word bucket — the
    join must plan as a hash/merge equi-join, never nested-loop."""
    from eco_pulse_lakehouse_spark.operators.timeseries import sax_motif_pairs

    ev = load_table(spark, SF, "events")
    plan = _plan(sax_motif_pairs(ev, "user_id", ("ts", "event_id"), "value"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_trend_slopes_single_shuffle_partial_agg(spark):
    """Per-key OLS is one partial-aggregated groupBy: exactly one
    hash-partitioning exchange in the whole plan."""
    from eco_pulse_lakehouse_spark.operators.timeseries import trend_slopes

    ev = load_table(spark, SF, "events")
    plan = _plan(trend_slopes(ev))
    assert plan.count("Exchange hashpartitioning") == 1


def test_frequent_items_shuffles_key_only_once(spark):
    """The CMS candidate pass must keep the vocabulary out of every
    exchange except the final exact recount: exactly ONE
    hashpartitioning on the key column (the groupBy over surviving
    candidates); the sketch probe itself is a broadcast of the
    one-row literal map, never a shuffle of the data side."""
    from eco_pulse_lakehouse_spark.functions.text import tokens
    from eco_pulse_lakehouse_spark.operators.sketches import frequent_items

    d = load_table(spark, SF, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("w"))
    plan = _plan(frequent_items(tok, "w", min_count=500))
    assert plan.count("hashpartitioning(w") == 1, plan
    assert "CartesianProduct" not in plan


def test_semdedup_pair_join_is_hash_not_cartesian(spark):
    """SemDeDup's quadratic stage must be an equi-join on cluster_id
    (bucketed Σ|cluster|² cost), never a cartesian product; the only
    nested-loop join allowed is the one-row codebook-map broadcast."""
    from eco_pulse_lakehouse_spark.operators import similarity as xs

    e = load_table(spark, SF, "embeddings")
    qz = xs.quantize_embeddings(e, "embedding", "q_vec", n_levels=127)
    plan = _plan(
        xs.semantic_dedup(qz, "vec_id", "q_vec", n_clusters=16, dim=64)
    )
    assert "CartesianProduct" not in plan
    # SMJ under small broadcast thresholds, BHJ under the engine's
    # 64 MB threshold — either way an EQUI-join keyed on cluster_id
    assert "Join [cluster_id" in plan or "Join cluster_id" in plan, plan


def test_ks_statistic_has_no_single_partition_window(spark):
    """The KS CDF construction must never plan the empty-partition-
    spec window (SinglePartition exchange feeding a Window) — the
    running sums ride the range-partitioned composition."""
    from eco_pulse_lakehouse_spark.operators.anomaly import ks_statistic

    ev = load_table(spark, SF, "events").filter(F.col("value").isNotNull())
    plan = _plan(ks_statistic(ev, "value", F.col("user_id") % 2 == 0))
    import re

    for m in re.finditer(r"Window ", plan):
        ctx = plan[max(0, m.start() - 400): m.start()]
        assert "SinglePartition" not in ctx.split("Window")[-1], plan
    # the window must be keyed by the range-partition pid
    assert "windowspecdefinition(__pid" in plan, plan


def test_twap_single_exchange(spark):
    """time_weighted_avg (carry-in form): ONE exchange total — the
    per-key window; the (key, day) groupBy reuses the per-key hash
    partitioning via subset clustering (round-4 rewrite; the
    synthetic-row union form needed three)."""
    from eco_pulse_lakehouse_spark.operators.timeseries import (
        time_weighted_avg,
    )

    df = time_weighted_avg(load_table(spark, SF, "events"))
    assert _plan(df).count("Exchange") == 1


def test_pattern_match_single_exchange(spark):
    """w24's sessionize + journey fold + regex: window and groupBy
    both cluster on the key — ONE exchange."""
    df = extended.QUERIES["w24_match_recognize"](spark, SF)
    assert _plan(df).count("Exchange") == 1


def test_spacesaving_recount_is_semi_join_prefilter(spark):
    """a30: the exact recount filters the stream with a broadcast
    LEFT SEMI join on the candidate keys BEFORE its groupBy — the
    candidates-only-shuffle contract (a29's shape), and no cartesian
    anywhere."""
    df = extended.QUERIES["a30_spacesaving"](spark, SF)
    plan = _plan(df)
    assert "LeftSemi" in plan and "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_multi_pattern_single_exchange(spark):
    """w27: three regex patterns over the shared journey substrate
    must add PROJECTIONS, not exchanges — same single-exchange
    contract as w24."""
    df = extended.QUERIES["w27_match_alternation"](spark, SF)
    assert _plan(df).count("Exchange") == 1


def test_dup_span_removal_no_cartesian_and_equi_joins(spark):
    """x2_dup_span_removal: every join (dup-shingle index, removed-
    position anti join, doc-spine outer join) is an equi-join — no
    cartesian / nested-loop anywhere, the never-all-pairs contract
    of the dedup family."""
    from eco_pulse_lakehouse_spark.operators.dedup import (
        dup_span_removal,
    )

    d = load_table(spark, SF, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    plan = _plan(dup_span_removal(d, "doc_id", "text"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "LeftAnti" in plan  # surviving tokens via anti join


def test_chi2_single_agg_shuffle_and_broadcast_totals(spark):
    """q15: ONE bin-count aggregation shuffle; the (n1, n2) totals
    ride back as a broadcast — the q12 shape."""
    from eco_pulse_lakehouse_spark.operators.anomaly import chi2_drift

    ev = load_table(spark, SF, "events").filter(
        F.col("value").isNotNull()
    )
    plan = _plan(chi2_drift(ev, "value", F.col("user_id") % 2 == 0))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_rrf_fusion_plan_shape(spark):
    """x4_rrf_fusion: the fusion is a FullOuter EQUI-join of two
    tiny top-N lists — no cartesian anywhere; corpus rescans are
    bounded by the retriever-side statistics passes (BM25 re-derives
    dl/df/stats from postings: 5 FileScans total today), NOT by the
    query count — a 1000-query batch plans identically."""
    df = northstar.QUERIES["x4_rrf_fusion"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan
    assert plan.count("FileScan") <= 6, plan.count("FileScan")


def test_salted_hot_key_join_joins_on_salt(spark):
    """skew5: the adversarial hot-key join must actually join on
    (key, salt) — the guard, not a plain key join AQE might split."""
    df = extended.QUERIES["skew5_hot_key_join"](spark, SF)
    plan = _plan(df)
    assert "__salt" in plan and "__dsalt" in plan


def test_hw_seasonal_single_exchange(spark):
    """w30's Holt-Winters fit: the per-key groupBy is the ONLY
    exchange — init seq-sums, the seasonal fold, and the forecast
    projection are all per-row array math after it."""
    from eco_pulse_lakehouse_spark.operators.timeseries import (
        holt_winters_seasonal,
    )

    df = holt_winters_seasonal(
        load_table(spark, SF, "events"), "user_id", "ts", "event_id",
        "value", season=4,
    )
    assert _plan(df).count("Exchange") == 1


def test_hw_mase_single_exchange(spark):
    """w31's seasonal backtest: one per-key groupBy exchange; the
    train/test split, HW fold, seasonal-naive MAE and horizon errors
    are per-row folds over the collected array."""
    from eco_pulse_lakehouse_spark.operators.timeseries import (
        hw_mase_backtest,
    )

    df = hw_mase_backtest(
        load_table(spark, SF, "events"), "user_id", "ts", "event_id",
        "value", season=4, horizon=4,
    )
    assert _plan(df).count("Exchange") == 1


def test_incremental_components_update_no_cartesian(spark):
    """t35's per-batch label merge: every join (ends probe, affected
    expansion, left-anti carry-forward, the propagation rounds inside
    connected_components) is an equi-join — no CartesianProduct or
    BroadcastNestedLoopJoin anywhere."""
    from eco_pulse_lakehouse_spark.operators.components import (
        incremental_components_update,
    )

    prior = spark.createDataFrame(
        [(1, 1), (5, 1), (2, 2), (7, 2)], "id LONG, comp LONG"
    )
    pairs = spark.createDataFrame([(5, 7)], "id_a LONG, id_b LONG")
    df = incremental_components_update(prior, pairs)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bounded_phonetic_pairs_equi_join_no_cartesian(spark):
    """Bounded phonetic blocking joins on the composed block key —
    a hash/sort-merge EQUI join, never CartesianProduct/BNLJ, with
    the lev refine applied post-join (candidate volume is bounded by
    the composed key + cap, so the refine never sees an all-pairs
    input)."""
    df = northstar.QUERIES["x2_phonetic_bounded"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


def test_grid_band_join_is_hash_join_not_cartesian(spark):
    """The ×4 boundary-band 2-D range join must stay a hash/sort-merge
    EQUI join on the cell key — never CartesianProduct/BNLJ — exactly
    like the ×9 grid form it undercuts on shuffle volume."""
    df = relational.QUERIES["j2_range_join_band2"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


def test_dsir_weights_plan_broadcasts_ratio_table(spark):
    """x6_dsir_weights: the 128-row log-ratio table must broadcast
    onto the exploded feature stream (BroadcastHashJoin) and nothing
    may cartesian except the 1-row totals BNLJ."""
    df = northstar.QUERIES["x6_dsir_weights"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_line_dedup_plan_no_cartesian(spark):
    """x2_line_dedup: occurrence ranking is a groupBy + equi-join on
    the line key — never a cross product."""
    df = northstar.QUERIES["x2_line_dedup"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_trigram_backoff_plan_broadcasts_lm_tables(spark):
    """x4_trigram_backoff: all five count tables broadcast onto the
    trigram stream; the only BNLJ is the 1-row totals cross join."""
    df = northstar.QUERIES["x4_trigram_backoff"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 5, plan


def test_wordpiece_round_plan_no_cartesian(spark):
    """WordPiece round: pair counts equi-join the two symbol-count
    tables on (left_sym)/(right_sym) — hash joins on a vocab-sized
    input, never a cross product. Asserted on one round's scored
    plan (the loop repeats the same shape)."""
    from eco_pulse_lakehouse_spark.functions.text import tokens
    from eco_pulse_lakehouse_spark.operators import bpe

    docs = load_table(spark, SF, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    seg = words.select(
        "f", bpe._char_segmentation(F.col("w")).alias("seg")
    )
    syms = (
        seg.select("f", F.explode("seg").alias("sym"))
        .groupBy("sym")
        .agg(F.sum("f").alias("sym_count"))
    )
    pairs = (
        seg.select("f", F.explode(bpe._adjacent_pairs("seg")).alias("p"))
        .groupBy("p.left_sym", "p.right_sym")
        .agg(F.sum("f").alias("pair_count"))
    )
    scored = pairs.join(
        syms.select(
            F.col("sym").alias("left_sym"), F.col("sym_count").alias("__lc")
        ),
        "left_sym",
    ).join(
        syms.select(
            F.col("sym").alias("right_sym"), F.col("sym_count").alias("__rc")
        ),
        "right_sym",
    )
    plan = _plan(scored)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_perplexity_buckets_plan_no_global_window(spark):
    """x4_perplexity_buckets: the per-language ntile must come from
    the distributed rank (range repartition + per-partition windows),
    never a single-partition global window, and the per-lang
    (base, count) table must broadcast."""
    df = northstar.QUERIES["x4_perplexity_buckets"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    # global_row_number's RangePartitioning exchange is absorbed by
    # the localCheckpoint (the plan scans the pinned RDD), so the
    # observable contract is: every Window is partitioned by __pid —
    # never a partition-less global window — and no ntile anywhere
    assert "windowspecdefinition(__pid" in plan.lower(), plan
    assert "windowspecdefinition(lang" not in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "ntile" not in plan.lower(), plan


def test_sp_unigram_plan_vocab_sized_no_cartesian(spark):
    """x4_sp_unigram_segment: the piece-LM join is an equi-join on
    the piece key over vocab-sized tables; the DP is row-local HOF
    arithmetic — no cross product, and the only BNLJ is the 1-row
    LM-total broadcast."""
    df = northstar.QUERIES["x4_sp_unigram_segment"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan


def test_tokenizer_flagship_plan_no_cartesian(spark):
    """flagship #7: perplexity gate (distributed rank, no global
    window), WP training loop, and the count join — keyed joins
    everywhere; the only BNLJ is the 1-row LM-total broadcast. The
    vocab-sized segmentation join is PINNED broadcast (VERDICT r08
    item 5 — the repo convention is explicit hints on known-small
    sides, not AQE promotion), so it must survive as a
    BroadcastHashJoin in the executed plan."""
    df = northstar.QUERIES["flagship_tokenizer_pipeline"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "ntile" not in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan


def test_curation_flagship_plan_no_cartesian(spark):
    """flagship #6: three composed stages, every join keyed (content,
    line, bucket, doc) — no cross product anywhere; final selection
    is TakeOrderedAndProject, not a global sort."""
    df = northstar.QUERIES["flagship_curation_select"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_nb_classifier_plan_broadcasts_learned_artifacts(spark):
    """x4_nb_quality_gate: the 128-row learned weight table must
    broadcast onto the exploded feature stream (BroadcastHashJoin)
    and the only cross products are the 1-row totals/prior
    broadcasts — never a data-sized cartesian."""
    df = northstar.QUERIES["x4_nb_quality_gate"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_gold_topk_no_single_partition_window_no_cartesian(spark):
    """flagship_gold_risk_topk: the k-nearest ranking window must
    partition by fire_id (parallel across fires — never a
    SinglePartition global sort) over the same grid-bucketed
    equi-join as the reference-exact form."""
    df = relational.QUERIES["flagship_gold_risk_topk"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "windowspecdefinition(fire_id" in plan.lower(), plan


def test_nb_lang_id_plan_broadcasts_weight_grid(spark):
    """x4_nb_lang_id: the dense class×bucket weight grid and the
    class priors broadcast onto the doc-bucket stream; the per-doc
    argmax window partitions by doc_id (never a partition-less
    global window) — no data-sized cartesian. (The 1-row
    class-total aggregates legitimately use a SinglePartition
    EXCHANGE over ≤|classes| rows; the guard here is on windows.)"""
    df = northstar.QUERIES["x4_nb_lang_id"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "windowspecdefinition(doc_id" in plan.lower(), plan
    assert "windowspecdefinition()" not in plan.lower(), plan


def test_data_factory_flagship_plan_shape(spark):
    """flagship #8: every join keyed (content, line, bucket, doc),
    learned artifacts broadcast, no data-sized cartesian, no ntile
    (the perplexity gate is the distributed-rank form), and no
    partition-less ranking window (the budget cumsum is the
    range-partitioned global_running_sum)."""
    df = northstar.QUERIES["flagship_data_factory"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "ntile" not in plan.lower(), plan


def test_tpch_q5_plan_dims_broadcast_fact_join_sortmerge(spark):
    """VERDICT r09 item 5 (sf1 audit outcome): Q5's dims broadcast,
    the date filter reaches the orders scan, and the fact-fact
    orders⋈lineitem edge is SORT-MERGE — the auto plan's broadcast
    of the column-pruned lineitem built its hash relation
    single-threaded and was 5.2x slower at the 10x rehearsal (2.5x
    at sf0.1); MERGE(lineitem) pins the scalable shape at every
    layout."""
    from eco_pulse_lakehouse_spark.corpus import tpch

    df = tpch.QUERIES["tpch_q5"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan  # region/nation/customer dims
    assert "SortMergeJoin" in plan      # orders ⋈ lineitem
    assert "CartesianProduct" not in plan
    fmt = _formatted(df)
    # lineitem is never a broadcast build side
    assert "GreaterThanOrEqual(o_orderdate" in fmt  # pushed date filter
    for block in fmt.split("\n\n"):
        if "BroadcastExchange" in block:
            assert "lineitem.parquet" not in block


def test_tpch_q3_q12_fact_join_sortmerge(spark):
    """The same fact-fact pin for the other two queries where the
    r10 A/B measured an unambiguous win at BOTH scales (q3 3.9x/1.2x,
    q12 1.2x/1.3x); queries where the hint lost or was ambiguous
    (q4/q7/q10/q18/q21) stay on the auto plan."""
    from eco_pulse_lakehouse_spark.corpus import tpch

    for name in ("tpch_q3", "tpch_q12"):
        plan = _plan(tpch.QUERIES[name](spark, SF))
        assert "SortMergeJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_winnowing_pairs_plan_no_cartesian(spark):
    """x2_winnowing_pairs: candidate generation must be an equi-join
    on the fingerprint value (hash join), never a cross product —
    the blocked-family contract."""
    df = northstar.QUERIES["x2_winnowing_pairs"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_prf_expansion_plan_broadcasts_terms_no_cartesian(spark):
    """x4_prf_expansion: both scoring passes broadcast their
    (query, term) lists and stats onto postings (BroadcastHashJoin);
    the feedback list joins broadcast too; the only cross products
    are 1-row corpus-stats broadcasts — never a data-sized
    cartesian."""
    df = northstar.QUERIES["x4_prf_expansion"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_hybrid_serving_plan_shape(spark):
    """flagship_hybrid_serving: the keyword half broadcasts its
    (query, term) lists onto postings (BroadcastHashJoin); the dense
    half's only cross products are the bounded query batch against
    the store (quantized_dot_topk's deliberate 3-row-side
    BroadcastNestedLoopJoin) and 1-row corpus-stats broadcasts —
    never a data×data CartesianProduct; the fusion itself is the
    tiny FullOuter equi-join of two top-N lists."""
    df = northstar.QUERIES["flagship_hybrid_serving"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "FullOuter" in plan, plan
    # request frames are driver-local relations (LocalTableScan), never
    # a Python-RDD scan; Scan ExistingRDD is left only for the pinned
    # postings and its dl/df_t stats
    def cols(leaf):
        return {c.split("#")[0].strip() for c in leaf.split(",")}

    local = [cols(l) for l in re.findall(r"LocalTableScan \[([^\]]*)\]", plan)]
    assert any({"query_id", "term"} <= c for c in local), plan
    assert {"vec_id"} in local, plan
    pinned = [{"doc_id", "term", "tf"}, {"term", "df"}, {"doc_id", "dl"}]
    for leaf in re.findall(r"Scan ExistingRDD\[([^\]]*)\]", plan):
        assert cols(leaf) in pinned, leaf


def test_winnowing_clusters_plan_no_cartesian(spark):
    """x2_winnowing_clusters: the composed MOSS end state keeps the
    blocked-family contract end-to-end — fingerprint-keyed equi-join
    pair generation, node-sized CC joins, broadcast DSIR weight
    table; no cartesian. (The one BroadcastNestedLoopJoin is the
    DSIR ratio-table's deliberate 1-row totals broadcast cross —
    the same pattern every dsir_weights consumer plans.)"""
    df = northstar.QUERIES["x2_winnowing_clusters"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_unimax_select_plan_no_doc_scale_global_window(spark):
    """x6_unimax_mixture: the per-language running total must come
    from the range-partitioned composition (partition-local window
    over __pid), NEVER a partition-less window over the document
    stream; the quota/prefix tables join broadcast. The language-
    sized quota table legitimately uses unpartitioned windows over
    ~5 rows — the guard is that every window spec partitions on
    something or its input is the language-sized aggregate."""
    df = northstar.QUERIES["x6_unimax_mixture"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the doc-scale cumulative sum runs partitioned by the range pid
    assert "windowspecdefinition(__wgpid" in plan.lower() or \
        "windowspecdefinition(__pid" in plan.lower(), plan
