"""Streaming semantics: checkpoint-restart exactly-once, replay dedup,
late-data windows (SURVEY.md §5.2.4 — closes reference gaps T2/T4/T5).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.catalog import load_table
from eco_pulse_lakehouse_spark.streaming import pipeline as sp

SF = "/root/testdata/sf0.001"

SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def _stage(spark, tmp_path, n_parts=2) -> str:
    stage = str(tmp_path / "input")
    load_table(spark, SF, "events").repartition(n_parts).write.mode(
        "overwrite"
    ).parquet(stage)
    return stage


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """T2 — re-running with the same checkpoint must not re-append
    already-committed source files (the reference's replay hole)."""
    stage = _stage(spark, tmp_path)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    stream = sp.read_file_stream(spark, stage, SCHEMA)
    sp.run_to_parquet(stream, sink, checkpoint=ckpt)
    n1 = spark.read.parquet(sink).count()

    # restart with the SAME checkpoint, no new files → no new rows
    stream2 = sp.read_file_stream(spark, stage, SCHEMA)
    sp.run_to_parquet(stream2, sink, checkpoint=ckpt)
    n2 = spark.read.parquet(sink).count()
    assert n1 == n2 == 1000

    # new arriving file → only its rows are appended
    extra = load_table(spark, SF, "events").limit(10).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    extra.coalesce(1).write.mode("append").parquet(stage)
    stream3 = sp.read_file_stream(spark, stage, SCHEMA)
    sp.run_to_parquet(stream3, sink, checkpoint=ckpt)
    assert spark.read.parquet(sink).count() == 1010


def test_replay_dedup_to_silver(spark, tmp_path):
    """T4+T5 — duplicates across later files (redelivery) are dropped
    by watermark+dropDuplicates keyed on event_id."""
    stage = _stage(spark, tmp_path)
    ev = load_table(spark, SF, "events")
    ev.limit(200).coalesce(1).write.mode("append").parquet(stage)  # replay 200

    stream = sp.read_file_stream(spark, stage, SCHEMA)
    silver = sp.to_silver(stream, "ts", ["event_id"], with_processed_at=False)
    sink = str(tmp_path / "silver")
    sp.run_to_parquet(silver, sink, checkpoint=str(tmp_path / "ckpt2"))
    out = spark.read.parquet(sink)
    assert out.count() == 1000
    assert out.select("event_id").distinct().count() == 1000


def test_windowed_counts_match_batch(spark, tmp_path):
    stage = _stage(spark, tmp_path)
    stream = sp.read_file_stream(spark, stage, SCHEMA)
    agg = sp.windowed_counts(stream, "ts", "1 hour", ["event_type"])
    out = sp.run_to_memory(agg, "wc_test", output_mode="complete")
    got = {
        (r["win"]["start"], r["event_type"]): r["n"] for r in out.collect()
    }
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("w"), "event_type")
        .count()
        .collect()
    )
    want = {(r["w"], r["event_type"]): r["count"] for r in batch}
    assert got == want


def test_silver_adds_processed_at(spark, tmp_path):
    stage = _stage(spark, tmp_path)
    stream = sp.read_file_stream(spark, stage, SCHEMA)
    silver = sp.to_silver(stream, "ts", ["event_id"])
    sink = str(tmp_path / "silver2")
    sp.run_to_parquet(silver, sink, checkpoint=str(tmp_path / "ckpt3"))
    out = spark.read.parquet(sink)
    assert "processed_at" in out.columns
    assert out.filter(F.col("processed_at").isNull()).count() == 0


def test_stream_lsh_index_equals_batch_pairs(spark):
    """The incrementally-maintained LSH index must yield EXACTLY the
    candidate pairs of the one-shot batch build — band rows depend
    only on content, so streamed ≡ batch is an equality, not a
    recall bound."""
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import (
        t18_stream_lsh_index,
    )
    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
        poly_token_hash,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        (r.id_a, r.id_b) for r in t18_stream_lsh_index(spark, sf).collect()
    }
    docs = load_table(spark, sf, "documents")
    # t18 uses the SQL-replayable poly token hash (round-5 oracle
    # conversion) — the batch twin must hash identically
    batch = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", token_hash=poly_token_hash
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_bpe_equals_batch_merges(spark):
    """t36's streamed vocabulary (SUM-merged per-batch word-count
    partials) must learn EXACTLY the batch merge table — word counts
    are linear and the greedy loop is deterministic, so streamed ≡
    batch is an equality, not an approximation."""
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import (
        t36_stream_bpe,
    )
    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.operators.bpe import learn_bpe_merges

    sf = "/root/testdata/sf0.001"
    streamed = [
        tuple(r)
        for r in t36_stream_bpe(spark, sf).orderBy("merge_round").collect()
    ]
    docs = load_table(spark, sf, "documents")
    batch = [
        tuple(r)
        for r in learn_bpe_merges(docs, n_merges=6)
        .orderBy("merge_round")
        .collect()
    ]
    assert streamed == batch and len(batch) == 6


def test_epoch_listing_ignores_stray_entries(spark, tmp_path):
    """The epoch sink of streaming/pipeline.py. ``list_epochs`` must
    skip non-numeric entries (Spark temp/_committed dirs landing under
    the root) instead of raising inside foreachBatch, and must sort
    numerically, not lexically.

    ``read_epochs`` is the serve-side union of the partials (those
    before ``before`` when given); ``read_last_epoch`` is the
    epoch-keyed replay invariant of the carry-state folds
    (t30/t33/t34/t35/t53): batch k reads the latest epoch strictly
    before k — so a replayed batch never reads its own partial — and
    the serve side reads the last epoch. Both read with the schema
    in the partials' parquet footers: the same schema and rows as a
    glob read, and no Spark job."""
    import pytest

    from eco_pulse_lakehouse_spark.session import local_frame

    root = tmp_path / "state"
    schema = "tag BIGINT, note STRING"
    for e in (0, 2, 10):
        sp.write_epoch(
            local_frame(spark, [(e, f"epoch {e}")], schema), str(root), e
        )
    for name in ["epoch=_tmp", "epoch=", "_committed_123", "epoch=3b"]:
        (root / name).mkdir()
    assert sp.list_epochs(str(root)) == [0, 2, 10]
    assert sp.list_epochs(str(tmp_path / "absent")) == []

    def tags(df):
        return sorted(r.tag for r in df.collect())

    assert tags(sp.read_epochs(spark, str(root))) == [0, 2, 10]
    assert tags(sp.read_epochs(spark, str(root), before=10)) == [0, 2]
    assert tags(sp.read_epochs(spark, str(root), before=1)) == [0]
    with pytest.raises(FileNotFoundError):
        sp.read_epochs(spark, str(root), before=0)

    def last(before):
        return tags(sp.read_last_epoch(spark, str(root), schema, before))

    assert last(10) == [2]
    assert last(3) == [2]
    assert last(None) == [10]
    empty = sp.read_last_epoch(spark, str(root), schema, before=0)
    assert empty.dtypes == [("tag", "bigint"), ("note", "string")]
    assert empty.collect() == []
    absent = sp.read_last_epoch(spark, str(tmp_path / "absent"), schema)
    assert absent.dtypes == empty.dtypes and absent.collect() == []

    # a mixed-type sink, with an empty partial, reads back exactly as
    # the glob read that infers its schema from the footers
    mixed = spark.range(4).select(
        "id",
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        F.array("id", F.col("id") + 1).alias("arr"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
        (F.col("id") / 3).cast("decimal(18,4)").alias("dec"),
        F.lit(None).cast("string").alias("nul"),
    )
    mroot = str(tmp_path / "mixed")
    sp.write_epoch(mixed.filter("id < 2"), mroot, 0)
    sp.write_epoch(mixed.filter("id >= 2"), mroot, 1)
    sp.write_epoch(mixed.filter("id < 0"), mroot, 2)
    got = sp.read_epochs(spark, mroot)
    ref = spark.read.parquet(os.path.join(mroot, "epoch=*"))
    assert got.schema == ref.schema
    assert sorted(got.collect()) == sorted(ref.collect())
    assert len(got.collect()) == 4

    sc = spark.sparkContext
    sc.setJobGroup("epoch_reads", "epoch_reads")
    try:
        sp.read_epochs(spark, mroot)
        sp.read_last_epoch(spark, str(root), schema)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("epoch_reads")) == []


def test_drain_one_committed_file_per_batch_then_nothing(spark, tmp_path):
    """``pipeline.drain`` is the drain policy of every corpus loop: a
    ``max_files_per_trigger=1`` file source drains to the end, one
    committed file per batch, in commit order, with batch ids 0..n-1
    — the order the carry-state folds (t30/t33/t35/t53) rely on. A
    second drain on the same checkpoint finds every file committed
    and runs no batch."""
    feed = tmp_path / "feed"
    # commit order (mtime) deliberately differs from name order, so
    # an ordering by path alone would fail the assertion below
    commits = [(3, "cv-b"), (1, "cv-d"), (2, "cv-a"), (0, "cv-c")]
    for i, (slice_, name) in enumerate(commits):
        d = str(feed / name)
        spark.range(slice_ * 10, slice_ * 10 + 10).withColumnRenamed(
            "id", "event_id"
        ).coalesce(1).write.parquet(d)
        t = 1_000_000_000 + i
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (t, t))
        os.utime(d, (t, t))

    seen = []

    def record(batch_df, batch_id: int) -> None:
        seen.append((batch_id, batch_df.agg(F.min("event_id")).first()[0]))

    ck = str(tmp_path / "ck")
    path = str(feed / "cv-*")

    def tail():
        return sp.read_file_stream(
            spark, path, "event_id BIGINT", max_files_per_trigger=1
        )

    q = sp.drain(tail(), record, ck)
    assert not q.isActive
    assert seen == [(k, slice_ * 10) for k, (slice_, _) in enumerate(commits)]

    seen.clear()
    sp.drain(tail(), record, ck)
    assert seen == []


def test_drain_policy_lives_in_pipeline():
    """Grep gate: the streaming corpus keeps no stream scaffolding of
    its own (no foreachBatch wiring, trigger, wait or hand-built temp
    path), neither it nor streaming/stateful.py spells an epoch-sink
    path or glob (streaming/pipeline.py owns the layout), and nothing
    in the package sets a trigger outside streaming/pipeline.py."""
    from eco_pulse_lakehouse_spark.corpus import streaming_corpus as sc
    from eco_pulse_lakehouse_spark.streaming import stateful

    pkg = os.path.dirname(os.path.dirname(os.path.abspath(sp.__file__)))
    sink_tokens = (
        "batch={",
        "epoch={",
        "batch=*",
        "epoch=*",
        'startswith("batch=")',
    )
    scaffold_tokens = (
        ".foreachBatch(",
        ".trigger(",
        "awaitTermination(",
        "tempfile.gettempdir(",
    )
    offenders = []
    for mod, tokens in (
        (sc, scaffold_tokens + sink_tokens),
        (stateful, sink_tokens),
    ):
        path = os.path.abspath(mod.__file__)
        with open(path, encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                offenders += [
                    f"{os.path.basename(path)}:{n} {t}"
                    for t in tokens
                    if t in line
                ]
    for root, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.abspath(
                sp.__file__
            ):
                continue
            with open(path, encoding="utf-8") as fh:
                for n, line in enumerate(fh, 1):
                    if ".trigger(" in line:
                        offenders.append(f"{os.path.relpath(path, pkg)}:{n}")
    assert not offenders, offenders


def test_pin_policy_lives_in_session():
    """Grep gate: ``session.pin`` is the only ``.localCheckpoint(`` in
    the package, bench.py and tools/, and the retired private pin
    wrapper of operators/dedup.py is neither defined nor imported
    anywhere (package, bench.py, tools/, tests/)."""
    import re

    from eco_pulse_lakehouse_spark import session

    pkg = os.path.dirname(os.path.abspath(session.__file__))
    repo = os.path.dirname(pkg)
    pin_home = os.path.abspath(session.__file__)
    private_pin = re.compile(r"\b_pin\b")

    def py_files(root):
        for d, _, files in os.walk(root):
            yield from (os.path.join(d, f) for f in files if f.endswith(".py"))

    raw, private = [], []
    gated = {*py_files(pkg), *py_files(os.path.join(repo, "tools"))}
    gated.add(os.path.join(repo, "bench.py"))
    for path in [*gated, *py_files(os.path.join(repo, "tests"))]:
        with open(path, encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                where = f"{os.path.relpath(path, repo)}:{n}"
                if path in gated and path != pin_home and (
                    ".localCheckpoint(" in line
                ):
                    raw.append(where)
                if private_pin.search(line):
                    private.append(where)
    assert not raw, raw
    assert not private, private


def test_scratch_root_removed_at_exit(tmp_path):
    """Uuid scratch paths (corpus/_registry.py:scratch) live under one
    per-process root that is gone once the interpreter exits, files
    and all; a keyed path stays at ``<tempdir>/eco_pulse_<tag>_<key>``
    so per-scale-factor tables are still reused across processes.
    Runs in a fresh interpreter, with no Spark session."""
    import subprocess
    import sys

    code = (
        "import os\n"
        "from eco_pulse_lakehouse_spark.corpus._registry import scratch\n"
        "p = scratch('probe')\n"
        "os.makedirs(p)\n"
        "open(os.path.join(p, 'part'), 'w').write('x')\n"
        "print(os.path.dirname(p), scratch('probe', 'sf0.001'))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    )
    root, keyed = out.stdout.split()
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    assert keyed == str(tmp_path / "eco_pulse_probe_sf0.001")


def test_stream_dsir_equals_batch(spark):
    """t37: per-batch (bucket-count, doc-bucket) partials merged at
    serving time must reproduce the one-pass DSIR weights
    BIT-identically (count linearity + the shared ratio_table
    expression tree)."""
    from pyspark.sql import functions as F

    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.operators.selection import dsir_weights

    sf = "/root/testdata/sf0.001"
    streamed = {
        r.doc_id: (r.n_feats, r.weight_fp)
        for r in QUERIES["t37_stream_dsir"](spark, sf).collect()
    }
    batch = {
        r.doc_id: (r.n_feats, r.weight_fp)
        for r in dsir_weights(
            load_table(spark, sf, "documents"), F.col("lang") == "en"
        ).collect()
    }
    assert streamed == batch


def test_stream_line_dedup_equals_batch(spark):
    """t38: per-batch chunk partials + min-merged first-occurrence
    store must reproduce the one-shot keep-first line dedup exactly
    (mins are associative; ownership decided at read time)."""
    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.operators.dedup import (
        line_dedup_keep_first,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        r.doc_id: (r.n_chunks, r.n_removed, r.text_clean)
        for r in QUERIES["t38_stream_line_dedup"](spark, sf).collect()
    }
    batch = {
        r.doc_id: (r.n_chunks, r.n_removed, r.text_clean)
        for r in line_dedup_keep_first(
            load_table(spark, sf, "documents"), "doc_id", "text", 3
        ).collect()
    }
    assert streamed == batch


def test_stream_wordpiece_infer_equals_batch(spark):
    """t40: per-batch stateless inference partials (each doc lives
    in exactly one source file) must union to EXACTLY the batch
    x4-style per-doc counts under the same learned merges — the
    merge folds depend only on the word, so streamed ≡ batch is an
    equality."""
    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.functions.text import tokens
    from eco_pulse_lakehouse_spark.operators.bpe import (
        learn_wordpiece_merges,
        segment_words,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        r.doc_id: (r.n_words, r.n_wp_tokens)
        for r in QUERIES["t40_stream_wordpiece_infer"](spark, sf).collect()
    }
    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    merges = [
        (r.left_sym, r.right_sym)
        for r in learn_wordpiece_merges(docs, "text", n_merges=6)
        .orderBy("merge_round")
        .collect()
    ]
    seg = segment_words(docs, merges)
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.length("w") > 0)
    batch = {
        r.doc_id: (r.n_words, r.n_wp_tokens)
        for r in tok.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.size("seg")).cast("bigint").alias("n_wp_tokens"),
        )
        .collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_nb_gate_equals_batch(spark):
    """t41: per-batch (bucket class counts, 1-row label counts,
    doc-bucket counts) partials merged at serving time must
    reproduce the one-pass NB margins BIT-identically (count
    linearity + the shared ratio_table / prior_counts_to_fp
    expression trees)."""
    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.northstar import _nb_pos_pred
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.operators.selection import nb_classify

    sf = "/root/testdata/sf0.001"
    streamed = {
        r.doc_id: (r.n_feats, r.evidence_fp, r.margin_fp, r.keep)
        for r in QUERIES["t41_stream_nb_gate"](spark, sf).collect()
    }
    batch = {
        r.doc_id: (r.n_feats, r.evidence_fp, r.margin_fp, r.keep)
        for r in nb_classify(
            load_table(spark, sf, "documents"), _nb_pos_pred()
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_decontaminate_equals_batch(spark):
    """t45: per-batch ingest screening against the pinned eval
    shingle set must union to EXACTLY the one-shot removal list —
    per-doc overlap counts depend only on the doc and the eval set,
    so disjoint ingest batches compose losslessly."""
    from pyspark.sql import functions as F

    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.operators.decontaminate import (
        decontaminate,
    )
    from eco_pulse_lakehouse_spark.operators.sampling import unit_hash

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r)
        for r in QUERIES["t45_stream_decontaminate"](spark, sf).collect()
    }
    d = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    u = unit_hash(F.col("doc_id"))
    batch = {
        tuple(r)
        for r in decontaminate(
            d.filter(u < 0.9), d.filter(u >= 0.9),
            "doc_id", "text", shingle_n=4,
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_nb_gate_sweep_equals_batch(spark):
    """t44: SUM-merged train-half class/label partials + held-out
    doc-bucket counts, served through the shared densify/ratio/prior
    trees and the shared grid-confusion stage, must reproduce the
    one-shot calibration table EXACTLY — the linearity argument
    (Σ n·w_fp ≡ Σ w_fp) extended through the sweep."""
    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.northstar import _nb_pos_pred
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.operators.sampling import unit_hash
    from eco_pulse_lakehouse_spark.operators.selection import nb_gate_sweep
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r)
        for r in QUERIES["t44_stream_nb_gate_sweep"](spark, sf).collect()
    }
    batch = {
        tuple(r)
        for r in nb_gate_sweep(
            load_table(spark, sf, "documents"),
            _nb_pos_pred(),
            train_pred=unit_hash(F.col("doc_id")) < 0.5,
        ).collect()
    }
    assert streamed == batch and len(batch) == 7


def test_stream_unimax_equals_batch(spark):
    """t46: per-batch featurized (doc_id, lang, n_tokens) manifest
    partials — each doc's row complete within its batch, so the
    merged manifest is a plain union — re-selected through the batch
    operator's own quota + budget-prefix tree, must reproduce the
    one-shot UniMax manifest EXACTLY."""
    from pyspark.sql import functions as F

    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.operators.sampling import unimax_select

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r) for r in QUERIES["t46_stream_unimax"](spark, sf).collect()
    }
    d = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang", "text"
    )
    batch = {
        tuple(r)
        for r in unimax_select(
            d, "doc_id", "lang", "text", max_epochs=2,
            budget_num=3, budget_den=2,
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_winnowing_equals_batch(spark):
    """t48: per-batch fingerprint partials (row-local, complete per
    doc — the merged index is a plain union) paired through the
    identical equi-join stage must reproduce the one-shot winnowing
    pairs EXACTLY."""
    from pyspark.sql import functions as F

    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.operators.dedup import (
        poly_token_hash,
        winnowing_pairs,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r) for r in QUERIES["t48_stream_winnowing"](spark, sf).collect()
    }
    d = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    batch = {
        tuple(r)
        for r in winnowing_pairs(
            d, "doc_id", "text", min_shared=2, token_hash=poly_token_hash
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_search_serving_equals_batch(spark):
    """t47: per-request-batch serving against the pinned postings
    index must union to EXACTLY the one-shot flagship output — every
    stage is per-query independent, so disjoint request batches
    compose losslessly."""
    from pyspark.sql import functions as F

    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.northstar import _BM25_QUERIES
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.plans.search_serving import (
        search_serving,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r)
        for r in QUERIES["t47_stream_search_serving"](spark, sf).collect()
    }
    d = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    batch = {
        tuple(r) for r in search_serving(d, _BM25_QUERIES).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_hybrid_serving_equals_batch(spark):
    """t49: per-request-batch HYBRID serving against BOTH pinned
    artifacts (postings index + int8 store) must union to EXACTLY
    the one-shot flagship-#10 output — every stage on both
    modalities is per-query independent, so disjoint request batches
    compose losslessly."""
    from pyspark.sql import functions as F

    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.northstar import _BM25_QUERIES
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.plans.hybrid_serving import (
        hybrid_serving,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r)
        for r in QUERIES["t49_stream_hybrid_serving"](spark, sf).collect()
    }
    d = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    e = load_table(spark, sf, "embeddings")
    batch = {
        tuple(r) for r in hybrid_serving(d, e, _BM25_QUERIES).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_hybrid_index_equals_batch(spark):
    """t50: the INGEST side of the hybrid loop — postings partials
    (complete per doc) and int8-store partials (row-local) each
    merge by plain union, so serving over the two streamed artifacts
    must equal the one-shot flagship-#10 output exactly."""
    from pyspark.sql import functions as F

    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.northstar import _BM25_QUERIES
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.plans.hybrid_serving import (
        hybrid_serving,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r)
        for r in QUERIES["t50_stream_hybrid_index"](spark, sf).collect()
    }
    d = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    e = load_table(spark, sf, "embeddings")
    batch = {
        tuple(r) for r in hybrid_serving(d, e, _BM25_QUERIES).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_rag_context_equals_batch(spark):
    """t43: per-request-batch RAG context partials (each query lives
    in one source file; the int8 store is the pinned static
    artifact) must union to EXACTLY the one-shot MMR-extended
    flagship output — every stage is per-q_id independent, so
    disjoint query batches compose losslessly."""
    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.plans.rag_context import rag_context_mmr

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r)
        for r in QUERIES["t43_stream_rag_context"](spark, sf).collect()
    }
    batch = {
        tuple(r)
        for r in rag_context_mmr(
            load_table(spark, sf, "embeddings"),
            load_table(spark, sf, "documents"),
            n_queries=5, k_pool=10, k_select=5, lam_num=7, lam_den=10,
            shingle_n=2, containment_num=3, containment_den=20,
            token_budget=250,
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_gold_topk_equals_batch(spark):
    """t42: per-batch progressive-refinement k-NN partials (each
    fire lives in one source file; stations are the static dim) must
    union to EXACTLY the one-shot gold_risk_events_topk output."""
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.plans.gold import gold_risk_events_topk

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r) for r in QUERIES["t42_stream_gold_topk"](spark, sf).collect()
    }
    batch = {
        tuple(r) for r in gold_risk_events_topk(spark, sf, k=3).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_winnowing_clusters_equals_batch(spark):
    """t51: the streamed fingerprint index merged by plain union,
    then pairs -> CC -> keep-best canonical, must reproduce the
    one-shot x2_winnowing_clusters composition EXACTLY (pairs are
    deterministic, CC is a fixpoint, the canonical window is
    deterministic under its (weight desc, id) total order)."""
    from pyspark.sql import functions as F

    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.operators.dedup import (
        poly_token_hash,
        winnowing_pairs,
    )
    from eco_pulse_lakehouse_spark.operators.selection import (
        canonical_per_cluster,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r)
        for r in QUERIES["t51_stream_winnowing_clusters"](spark, sf).collect()
    }
    d = load_table(spark, sf, "documents")
    pairs = winnowing_pairs(
        d, "doc_id", "text", k=3, w=4, min_shared=2,
        token_hash=poly_token_hash,
    )
    batch = {
        tuple(r)
        for r in canonical_per_cluster(
            d, pairs, F.col("lang") == "en"
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_hybrid_loop_equals_batch(spark):
    """t52: the FULL loop — both artifacts stream-maintained AND
    requests stream-served over the merged artifacts — must union to
    the one-shot flagship-#10 output exactly (artifact partials are
    row-local/complete-per-doc, serving is per-query independent)."""
    from pyspark.sql import functions as F

    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.northstar import _BM25_QUERIES
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.plans.hybrid_serving import (
        hybrid_serving,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r)
        for r in QUERIES["t52_stream_hybrid_loop"](spark, sf).collect()
    }
    d = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    e = load_table(spark, sf, "embeddings")
    batch = {
        tuple(r) for r in hybrid_serving(d, e, _BM25_QUERIES).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_winnowing_incremental_equals_batch(spark):
    """t53: per-batch affected-component relabeling (quotient-CC over
    the winnowing tier) must land the IDENTICAL final state as the
    one-shot composition — pairs complete in the batch of their later
    endpoint, incremental_components_update preserves the min-label
    star-forest invariant, and the canonical stage consumes the
    carried labels through canonical_per_cluster's labels hook."""
    from pyspark.sql import functions as F

    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.corpus.streaming_corpus import QUERIES
    from eco_pulse_lakehouse_spark.operators.dedup import (
        poly_token_hash,
        winnowing_pairs,
    )
    from eco_pulse_lakehouse_spark.operators.selection import (
        canonical_per_cluster,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r)
        for r in QUERIES["t53_stream_winnowing_incremental"](
            spark, sf
        ).collect()
    }
    d = load_table(spark, sf, "documents")
    pairs = winnowing_pairs(
        d, "doc_id", "text", k=3, w=4, min_shared=2,
        token_hash=poly_token_hash,
    )
    batch = {
        tuple(r)
        for r in canonical_per_cluster(
            d, pairs, F.col("lang") == "en"
        ).collect()
    }
    assert streamed == batch and len(batch) > 0
