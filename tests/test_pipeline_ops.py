"""Training-pipeline ops: deterministic splits/sampling and sequence
packing (operators/sampling.py, operators/packing.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.catalog import load_table
from eco_pulse_lakehouse_spark.functions.text import bpe_ish_token_count
from eco_pulse_lakehouse_spark.operators.packing import pack_documents
from eco_pulse_lakehouse_spark.operators.sampling import (
    deterministic_sample,
    hash_split,
)
from eco_pulse_lakehouse_spark.session import pin

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )


def test_hash_split_partitioning_invariant(spark):
    """The split assignment must not change with partitioning — the
    exact property df.sample lacks."""
    d = _docs(spark)
    a = {r.doc_id: r.split for r in hash_split(d, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(d.repartition(13), "doc_id").collect()
    }
    assert a == b
    # all three splits populated, fractions sane on 500 docs
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > 0.8 * len(a)


def test_deterministic_sample_is_subset_stable(spark):
    d = _docs(spark)
    s1 = {r.doc_id for r in deterministic_sample(d, "doc_id", 0.25).collect()}
    s2 = {
        r.doc_id
        for r in deterministic_sample(d.coalesce(1), "doc_id", 0.25).collect()
    }
    assert s1 == s2
    assert 0.1 < len(s1) / d.count() < 0.4
    # nested property: a 10% sample is a subset of the 25% sample
    s3 = {r.doc_id for r in deterministic_sample(d, "doc_id", 0.10).collect()}
    assert s3 <= s1


def test_pack_documents_invariants(spark):
    d = _docs(spark).select(
        "doc_id", bpe_ish_token_count(F.col("text")).alias("tok")
    )
    capacity = 256
    bins = pack_documents(d, "doc_id", "tok", capacity, num_shards=8).collect()

    toks = {r.doc_id: r.tok for r in d.collect()}
    # every doc packed exactly once (doc count conservation)
    assert sum(r.n_docs for r in bins) == len(toks)
    assert sum(r.total_tokens for r in bins) == sum(toks.values())
    for r in bins:
        # a bin respects capacity unless it holds one oversized doc
        assert r.total_tokens <= capacity or r.n_docs == 1
        # id-contiguity per shard: first <= last, same shard residue
        assert r.first_doc <= r.last_doc
        assert r.first_doc % 8 == r.shard and r.last_doc % 8 == r.shard


def test_chunk_reassemble_roundtrip(spark):
    """chunk_payloads → reassemble_chunks must restore every payload
    byte-exactly (sha256 equality), with every page bounded."""
    from eco_pulse_lakehouse_spark.operators import multimodal as xm

    d = load_table(spark, SF, "documents")
    mm = xm.to_multimodal(d)
    pages = xm.chunk_payloads(mm, page_bytes=64)
    assert pages.filter(F.length("page") > 64).count() == 0
    back = xm.reassemble_chunks(pages)
    diff = (
        mm.select("doc_id", F.sha2(F.col("payload"), 256).alias("h"))
        .join(
            back.select("doc_id", F.sha2(F.col("payload"), 256).alias("h2")),
            "doc_id",
        )
        .filter(F.col("h") != F.col("h2"))
    )
    assert diff.count() == 0
    assert back.count() == mm.count()


def test_connected_components_and_resolve(spark):
    """Known graph: {1-2, 2-3} ∪ {10-11} → two clusters with min-id
    components; resolve keeps one canonical doc per cluster plus all
    unpaired docs."""
    from eco_pulse_lakehouse_spark.operators.components import (
        connected_components,
        resolve_duplicates,
    )

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "id_a BIGINT, id_b BIGINT"
    )
    comp = {
        r.id: r.comp for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 5, 10, 11)], "doc_id BIGINT, t STRING"
    )
    kept = sorted(
        r.doc_id for r in resolve_duplicates(docs, pairs).collect()
    )
    assert kept == [1, 5, 10]  # canonical per cluster + untouched 5


def test_connected_components_chain_diameter(spark):
    """A 12-node path graph needs multiple propagation rounds — the
    loop must still reach the global min label."""
    from eco_pulse_lakehouse_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a BIGINT, id_b BIGINT"
    )
    comp = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 12


def test_cc_check_every_identical(spark):
    """The r14 batched convergence check (count every K-th round)
    must not change the fixed point: a multi-round path graph plus a
    separate cluster yields identical labels for K = 1, 2, 5 — and
    the default K must still break (not raise) well under
    max_iterations."""
    from eco_pulse_lakehouse_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(100, 101), (101, 102)],
        "id_a BIGINT, id_b BIGINT",
    )
    ref = {
        r.id: r.comp
        for r in connected_components(pairs, check_every=1).collect()
    }
    for k in (2, 5):
        got = {
            r.id: r.comp
            for r in connected_components(pairs, check_every=k).collect()
        }
        assert got == ref, f"check_every={k} changed the labels"
    assert set(ref.values()) == {0, 100}


def test_stratified_sample_partitioning_invariant(spark):
    """The same rows survive the per-class cap under any layout, and
    no class exceeds the cap."""
    from eco_pulse_lakehouse_spark.operators.sampling import stratified_sample

    d = load_table(spark, SF, "documents").select(
        F.col("doc_id").cast("bigint"), "source"
    )
    a = stratified_sample(d, "source", "doc_id", 7)
    b = stratified_sample(d.repartition(13), "source", "doc_id", 7)
    rows_a = {tuple(r) for r in a.collect()}
    rows_b = {tuple(r) for r in b.collect()}
    assert rows_a == rows_b
    caps = a.groupBy("source").count().collect()
    assert caps and all(r["count"] <= 7 for r in caps)


def test_scrub_pii_redacts_each_kind(spark):
    from eco_pulse_lakehouse_spark.functions.text import scrub_pii

    df = spark.createDataFrame(
        [
            ("mail me at a.b+c@sub.example.io today", "mail me at <EMAIL> today"),
            ("see https://x.io/a?b=1#f and http://y.de", "see <URL> and <URL>"),
            ("call 555-0134 or 555-9", "call <PHONE> or <PHONE>"),
            ("no pii here", "no pii here"),
            # a URL embedding an '@' must be taken by <URL>, not <EMAIL>
            ("go http://u:p@host.com/x now", "go <URL> now"),
        ],
        ["raw", "expected"],
    )
    bad = df.filter(scrub_pii(F.col("raw")) != F.col("expected")).count()
    assert bad == 0


def test_repetition_stats_edge_cases(spark):
    from eco_pulse_lakehouse_spark.operators.quality import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z"), (3, "a b a b a")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df, "doc_id", "text").collect()}
    assert got[1]["n_tokens"] == 4 and got[1]["n_distinct"] == 1
    assert got[1]["top_count"] == 4 and got[1]["dup_frac"] == 0.75
    assert got[2]["dup_frac"] == 0.0 and got[2]["top_count"] == 1
    assert got[3]["n_tokens"] == 5 and got[3]["n_distinct"] == 2
    assert got[3]["top_count"] == 3


def test_sql_udfs_match_column_forms(spark):
    """Each SQL UDF body is the same expression as its Column twin —
    and none of them puts Python in the plan (no BatchEvalPython:
    the analyzer inlines the body)."""
    from eco_pulse_lakehouse_spark.functions.scalar import haversine_km
    from eco_pulse_lakehouse_spark.functions.sql_udfs import register_sql_udfs
    from eco_pulse_lakehouse_spark.functions.text import bpe_ish_token_count
    from eco_pulse_lakehouse_spark.operators.sampling import unit_hash

    register_sql_udfs(spark)

    d = load_table(spark, SF, "documents")
    bad = d.select(
        (F.expr("eco_bpe_tokens(text)") != bpe_ish_token_count(F.col("text")))
        .alias("m1"),
        (F.expr("eco_unit_hash(doc_id)") != unit_hash(F.col("doc_id"))).alias("m2"),
    ).filter(F.col("m1") | F.col("m2"))
    assert bad.count() == 0

    pts = spark.createDataFrame(
        [(28.1, -15.4, 40.4, -3.7), (0.0, 0.0, 0.0, 0.0), (-33.9, 151.2, 51.5, -0.1)],
        ["lat1", "lon1", "lat2", "lon2"],
    )
    diff = pts.select(
        F.abs(
            F.expr("eco_haversine_km(lat1, lon1, lat2, lon2)")
            - haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"))
        ).alias("d")
    ).agg(F.max("d").alias("mx")).first().mx
    assert diff < 1e-9

    plan = (
        d.select(F.expr("eco_bpe_tokens(text)"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_python_datasource_partition_scaling(spark):
    """The source emits partitions() splits and the same global rows
    regardless of split count."""
    from eco_pulse_lakehouse_spark.sources import pydatasource

    pydatasource.register(spark)

    def rows(parts, rpp):
        return (
            spark.read.format("eco_synthetic")
            .option("partitions", parts)
            .option("rowsPerPartition", rpp)
            .load()
        )

    a = rows(4, 100)
    assert a.rdd.getNumPartitions() == 4
    ids_a = sorted(r.id for r in a.select("id").collect())
    ids_b = sorted(r.id for r in rows(2, 200).select("id").collect())
    assert ids_a == ids_b == list(range(400))


def test_observed_split_metrics_for_free(spark):
    """Observation metrics materialize from the SAME action that
    consumes the data (no second scan) and agree with explicit
    counts."""
    from eco_pulse_lakehouse_spark.operators.quality import observed_split

    ev = load_table(spark, SF, "events")
    rules = {
        "value_nonneg": F.col("value") >= 0,
        "has_type": F.col("event_type").isNotNull(),
    }
    good, bad, obs = observed_split(ev, rules)
    n_good = good.count()
    n_bad = bad.count()
    m = obs.get
    assert m["rows"] == n_good + n_bad == ev.count()
    assert m["violation_rows"] == n_bad
    assert m["viol_value_nonneg"] == ev.filter(~(F.col("value") >= 0)).count()


def test_hilbert_bijective_and_adjacent_on_full_grid(spark):
    """Hilbert xy→d on the full 16×16 grid (bits=4): (a) a BIJECTION
    onto 0..255, (b) consecutive d values are always Manhattan-1 grid
    neighbors — THE Hilbert locality property (the Z-curve violates
    it at every quadrant boundary, checked as the contrast)."""
    from eco_pulse_lakehouse_spark.operators.layout import (
        hilbert_values,
        z_value,
    )

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], ["x", "y"]
    )
    rows = hilbert_values(
        grid, F.col("x"), F.col("y"), bits=4
    ).collect()
    d2xy = {r.h: (r.x, r.y) for r in rows}
    assert sorted(d2xy) == list(range(256))  # bijection
    for d in range(255):
        (x1, y1), (x2, y2) = d2xy[d], d2xy[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d
    # contrast: the Z-curve is NOT step-1 adjacent everywhere
    z2xy = {
        r.z: (r.x, r.y)
        for r in grid.select(
            "x", "y", z_value(F.col("x"), F.col("y"), bits=4).alias("z")
        ).collect()
    }
    jumps = sum(
        abs(z2xy[d][0] - z2xy[d + 1][0])
        + abs(z2xy[d][1] - z2xy[d + 1][1]) > 1
        for d in range(255)
    )
    assert jumps > 0


def test_hilbert_layout_tightens_file_stats_vs_hash(spark):
    """hilbert_layout's summed per-file bounding-box area (the
    data-skipping proxy) must shrink several-fold vs hash layout,
    and stay in the Z-order class: measured on this
    data both curves land within ~15% of each other (Z's contiguous
    ranges are exact dyadic rectangles, so its BOXES can even edge
    out Hilbert's L-shaped segments — Hilbert's advantage is
    continuity, pinned above, not box area)."""
    import os
    import tempfile
    import uuid

    from eco_pulse_lakehouse_spark.operators.layout import (
        hilbert_layout,
        zorder_layout,
    )

    ev = load_table(spark, SF, "events").select(
        F.pmod(F.col("user_id"), F.lit(1024)).alias("x"),
        F.greatest(
            F.lit(0).cast("bigint"),
            F.least(
                F.lit(1023).cast("bigint"),
                F.floor(F.col("value")).cast("bigint"),
            ),
        ).alias("y"),
    )
    base = os.path.join(
        tempfile.gettempdir(), f"hilbert_{uuid.uuid4().hex[:8]}"
    )
    hilbert_layout(ev, F.col("x"), F.col("y"), num_files=8).write.parquet(
        os.path.join(base, "hb")
    )
    zorder_layout(ev, F.col("x"), F.col("y"), num_files=8).write.parquet(
        os.path.join(base, "z")
    )
    ev.repartition(8).write.parquet(os.path.join(base, "hash"))

    def area(path):
        df = spark.read.parquet(path).withColumn("f", F.input_file_name())
        return sum(
            (r.dx + 1) * (r.dy + 1)
            for r in df.groupBy("f")
            .agg(
                (F.max("x") - F.min("x")).alias("dx"),
                (F.max("y") - F.min("y")).alias("dy"),
            )
            .collect()
        )

    a_h = area(os.path.join(base, "hb"))
    a_z = area(os.path.join(base, "z"))
    a_hash = area(os.path.join(base, "hash"))
    # same bound as the zorder test: hash files each span ~the full
    # square, curve files tile it (5.4x measured here at 8 files)
    assert a_h < a_hash / 3, (a_h, a_hash)
    assert a_h <= 1.15 * a_z, (a_h, a_z)


def test_zorder_layout_tightens_file_stats(spark):
    """Z-ordered files cover compact (x, y) rectangles: the summed
    per-file bounding-box area (the data-skipping proxy parquet
    min/max pruning acts on) must shrink vs hash layout."""
    import tempfile, os, uuid

    from eco_pulse_lakehouse_spark.operators.layout import zorder_layout

    ev = load_table(spark, SF, "events").select(
        F.pmod(F.col("user_id"), F.lit(1024)).alias("x"),
        F.greatest(
            F.lit(0).cast("bigint"),
            F.least(F.lit(1023).cast("bigint"), F.floor(F.col("value")).cast("bigint")),
        ).alias("y"),
    )
    base = os.path.join(tempfile.gettempdir(), f"zorder_{uuid.uuid4().hex[:8]}")
    zorder_layout(ev, F.col("x"), F.col("y"), num_files=8).write.parquet(
        os.path.join(base, "z")
    )
    ev.repartition(8).write.parquet(os.path.join(base, "h"))

    def area(path):
        df = spark.read.parquet(path).withColumn("f", F.input_file_name())
        rows = (
            df.groupBy("f")
            .agg(
                (F.max("x") - F.min("x")).alias("dx"),
                (F.max("y") - F.min("y")).alias("dy"),
            )
            .collect()
        )
        assert len(rows) == 8
        return sum((r.dx + 1) * (r.dy + 1) for r in rows)

    a_z, a_h = area(os.path.join(base, "z")), area(os.path.join(base, "h"))
    # hash layout: every file spans ~the full square; z-order files
    # tile it, so the total is a small fraction
    assert a_z < a_h / 3, (a_z, a_h)


def test_pagerank_star_graph(spark):
    """On a star (all leaves -> hub), the hub outranks every leaf and
    leaves are symmetric."""
    from eco_pulse_lakehouse_spark.operators.components import pagerank

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, i) for i in range(1, 6)],
        ["src", "dst"],
    )
    r = {row.id: row.rank for row in pagerank(edges, iterations=5).collect()}
    leaves = [r[i] for i in range(1, 6)]
    assert r[0] > max(leaves)
    assert max(leaves) - min(leaves) < 1e-12


def test_domain_mixture_caps_and_rebalances(spark):
    """Target shares steer per-domain take; a domain whose target
    exceeds its population keeps ALL rows (fraction caps at 1);
    selection is partitioning-invariant."""
    from eco_pulse_lakehouse_spark.operators.sampling import (
        domain_mixture_sample,
    )

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    d = spark.createDataFrame(rows, ["doc_id", "dom"])
    # k=400 at 50/50: big takes ~200 of 900, small wants 200 of 100 → all 100
    out = domain_mixture_sample(
        d, "doc_id", "dom", {"big": 0.5, "small": 0.5}, k=400
    )
    got = out.groupBy("dom").count().collect()
    by = {r.dom: r["count"] for r in got}
    assert by["small"] == 100            # cap branch: keep everything
    assert 130 <= by["big"] <= 270       # ≈200 expected, hash variance
    a = {r.doc_id for r in out.collect()}
    b = {
        r.doc_id
        for r in domain_mixture_sample(
            d.repartition(17), "doc_id", "dom", {"big": 0.5, "small": 0.5}, k=400
        ).collect()
    }
    assert a == b


def test_temperature_mixture_flattens_and_is_layout_invariant(spark):
    """alpha=0.5 must shrink the dominant domain's share toward the
    flattened target while tail domains keep (nearly) all rows; the
    surviving id set must not depend on partitioning."""
    from eco_pulse_lakehouse_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    d = load_table(spark, SF, "documents").select(
        F.col("doc_id").cast("bigint"), "lang"
    )
    n = d.count()
    before = {r.lang: r.c for r in d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    dominant = max(before, key=before.get)
    out = temperature_mixture_sample(d, "doc_id", "lang", k=n // 2, alpha=0.5)
    after = {r.lang: r.c for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    total_after = sum(after.values())
    assert after[dominant] / total_after < before[dominant] / n
    # tail domains are sampled at a HIGHER rate than the head
    tail = min(before, key=before.get)
    assert after[tail] / before[tail] > after[dominant] / before[dominant]
    ids = {r.doc_id for r in out.collect()}
    ids_repart = {
        r.doc_id
        for r in temperature_mixture_sample(
            d.repartition(13), "doc_id", "lang", k=n // 2, alpha=0.5
        ).collect()
    }
    assert ids == ids_repart


def test_observe_metrics_on_batch_plan(spark):
    """The Observation API (df.observe): pipeline-health counters
    collected as a side effect of the SAME job that materializes the
    result — no second scan (how a 100 TB export job reports row/
    null/volume counters for free). Metrics must match a direct
    aggregation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, None)], ["id", "v"]
    )
    obs = Observation("card")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").isNull().cast("int")).alias("n_null_v"),
    )
    out = observed.filter(F.col("id") > 1).count()  # one job
    assert out == 3
    got = obs.get
    assert got["n_rows"] == 4  # observed BEFORE the filter
    assert got["n_null_v"] == 2


def test_release_cached_state_unpersists_every_pin(spark):
    """Pin-release contract (SCALE.md "Pin RELEASE is part of the pin
    contract", the r11 late-entry-inflation root cause): bench's
    release_cached_state must leave ZERO persistent RDDs behind —
    blocking, so the blocks are gone when it returns, not draining
    into the next timed entry."""
    import sys as _sys

    _sys.path.insert(0, __file__.rsplit("/tests/", 1)[0])
    from bench import release_cached_state

    pinned = [pin(spark.range(1000 * (i + 1))) for i in range(3)]
    for df in pinned:
        assert df.count() > 0
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.size() >= 3, "pin should register persistent RDDs"
    release_cached_state(spark)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_pin_materializes_at_call_and_cuts_the_source(spark, tmp_path):
    """The pin contract (session.pin): the build runs at CALL time
    (>=1 job, counted under a job group set around the call), the
    pinned frame plans as a LogicalRDD over the pinned blocks, and it
    keeps returning the same rows after its parquet source is gone."""
    import shutil
    import uuid

    src = str(tmp_path / "src")
    spark.range(100).write.parquet(src)
    df = spark.read.parquet(src)
    expected = sorted(r.id for r in df.collect())
    sc = spark.sparkContext
    group = f"pin-test-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "pin")
    try:
        pinned = pin(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
    plan = pinned._jdf.queryExecution().logical()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    shutil.rmtree(src)
    assert sorted(r.id for r in pinned.collect()) == expected
    assert len(expected) == 100
