"""Driver-built frames as local relations (session.local_frame).

Every small frame the engine builds from Python rows goes through
``local_frame``, which plans as a Catalyst ``LocalRelation`` instead of
a pickled Python RDD. These tests pin the three things that rewrite
rests on: the helper equals the list path row for row and field for
field, request frames deduped in the driver equal the old
``createDataFrame(...).distinct()`` frames end to end, and no list
``createDataFrame`` call comes back into the package.
"""

from __future__ import annotations

import datetime
import inspect
import os
import time

import pytest
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark import session as session_mod
from eco_pulse_lakehouse_spark.corpus.northstar import _BM25_QUERIES
from eco_pulse_lakehouse_spark.corpus.streaming_corpus import EVENTS_SCHEMA
from eco_pulse_lakehouse_spark.operators import retrieval
from eco_pulse_lakehouse_spark.plans import hybrid_serving as hybrid_mod
from eco_pulse_lakehouse_spark.plans import search_serving as search_mod
from eco_pulse_lakehouse_spark.session import local_frame
from tests.conftest import SF_SMOKE

PKG = os.path.dirname(os.path.abspath(session_mod.__file__))

_TS = datetime.datetime(2024, 3, 9, 23, 59, 58, 123456)

# (rows, schema) for every schema a converted call site builds
SITE_FRAMES = {
    "query_terms": (
        [(1, "hash"), (1, "join"), (2, None), (None, "scan")],
        "query_id long, term string",
    ),
    "hybrid_qids": ([(3,), (1,), (3,)], "vec_id long"),
    "rank_offsets": ([(0, 0), (1, 17), (2, 40)], "__pid INT, __offset LONG"),
    "running_sum_offsets": (
        [(0, 0, 0), (1, 5, -3), (2, 9, None)],
        "__pid INT, __off_wt LONG, __off_n LONG",
    ),
    "mixture_weights": ([("en", 0.6), ("de", None)], "lang string, __wt double"),
    "bpe_merges": (
        [(1, "a", "b", 7), (2, "ab", "c", 3)],
        "merge_round int, left_sym string, right_sym string, pair_count bigint",
    ),
    "wordpiece_merges": (
        [(1, "a", "##b", 7, 1_250_000)],
        "merge_round int, left_sym string, right_sym string, "
        "pair_count bigint, score_fp bigint",
    ),
    "wm_sentinel_events": (
        [
            (-1, _TS, -1, "purchase", 0.0, "{}"),
            (-2, _TS + datetime.timedelta(days=365), -1, "click", 0.0, "{}"),
            (-3, None, None, None, None, None),
        ],
        EVENTS_SCHEMA,
    ),
    "request_texts": (_BM25_QUERIES, "query_id long, query_text string"),
    "empty_fold_state": (
        [], "user_id BIGINT, ts_ms BIGINT, event_id BIGINT, v_fp BIGINT"
    ),
    "empty_ewm_state": (
        [], "user_id BIGINT, n BIGINT, l DOUBLE, b DOUBLE, x1 DOUBLE"
    ),
    "empty_array_state": (
        [],
        "user_id BIGINT, n BIGINT, l DOUBLE, b DOUBLE, "
        "s ARRAY<DOUBLE>, pend ARRAY<DOUBLE>",
    ),
    "empty_components": ([], "id BIGINT, comp BIGINT"),
}


def _leaf(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _assert_same_as_list_path(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert [f.nullable for f in got.schema] == [f.nullable for f in want.schema]
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    assert _leaf(got) == "LocalRelation"
    assert _leaf(want) == "LogicalRDD"


@pytest.mark.parametrize("site", sorted(SITE_FRAMES))
def test_local_frame_equals_list_path(spark, site):
    rows, schema = SITE_FRAMES[site]
    _assert_same_as_list_path(spark, rows, schema)


def test_local_frame_collected_codebooks_keep_schema(spark):
    """The t19/t25 streams rebuild their codebooks driver-side from
    ``.collect()``ed rows and the source ``.schema`` — non-nullable
    fields and array columns included."""
    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.operators.similarity import (
        ivfpq_codebooks,
        pq_codebooks,
        quantize_embeddings,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    qz = quantize_embeddings(e, "embedding", "q_vec", n_levels=127)
    coarse_df, rcb_df = ivfpq_codebooks(qz, "vec_id", "q_vec")
    pq_df = pq_codebooks(qz, "vec_id", "q_vec", m_segments=1, k_codes=16, dim=64)
    for src in (coarse_df, rcb_df, pq_df):
        rows = src.collect()
        assert rows
        _assert_same_as_list_path(spark, rows, src.schema)
        assert local_frame(spark, rows, src.schema).schema == src.schema


def test_local_frame_reads_naive_timestamps_as_process_local_time(spark):
    """Naive datetimes keep the list path's meaning (process-local wall
    time) even when the process zone is not the session zone."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        rows, schema = SITE_FRAMES["wm_sentinel_events"]
        micros = [
            [r[0] for r in df.select(F.unix_micros("ts")).collect()]
            for df in (local_frame(spark, rows, schema),
                       spark.createDataFrame(rows, schema))
        ]
        assert micros[0] == micros[1]
        assert micros[0][0] != int(
            _TS.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
        )
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


# --- driver-side dedup against the old .distinct() request frame --------


def _list_distinct_terms(spark, queries):
    """The request frame as every call site built it before local_frame."""
    return spark.createDataFrame(
        [(qid, t) for qid, qtext in queries for t in qtext.split(" ")],
        "query_id long, term string",
    ).distinct()


# a query repeating a term, and the same request twice in one batch
_DUP_BATCH = [
    (1, "hash join hash"),
    (2, "stream window batch"),
    (2, "stream window batch"),
    (3, "vector scan filter"),
]
_BATCHES = {"duplicates": _DUP_BATCH, "empty": []}


def test_query_terms_dedups_in_the_driver(spark):
    got = retrieval.query_terms(spark, _DUP_BATCH)
    assert _leaf(got) == "LocalRelation"
    assert got.count() == 8
    want = _list_distinct_terms(spark, _DUP_BATCH)
    assert sorted(got.collect()) == sorted(want.collect())
    empty = retrieval.query_terms(spark, [])
    assert empty.collect() == []
    assert empty.schema == want.schema


@pytest.fixture(scope="module")
def serving_inputs(spark):
    from eco_pulse_lakehouse_spark.catalog import load_table
    from eco_pulse_lakehouse_spark.plans.rag_context import int8_store

    docs = load_table(spark, SF_SMOKE, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    emb = load_table(spark, SF_SMOKE, "embeddings")
    postings = retrieval.term_postings(docs, "doc_id", "text").localCheckpoint(
        eager=True
    )
    store = int8_store(emb, "embedding").localCheckpoint(eager=True)
    return {
        "docs": docs,
        "emb": emb,
        "postings": postings,
        "store": store,
        "stats": retrieval.bm25_shared_stats(postings, "doc_id"),
    }


def _run(name, inputs, queries):
    d = inputs["docs"]
    if name == "hybrid_serving":
        return hybrid_mod.hybrid_serving(
            d, inputs["emb"], queries, postings=inputs["postings"],
            quantized=inputs["store"], shared_stats=inputs["stats"],
        )
    if name == "search_serving":
        return search_mod.search_serving(
            d, queries, postings=inputs["postings"],
            shared_stats=inputs["stats"],
        )
    if name == "bm25_topk":
        return retrieval.bm25_topk(d, "doc_id", "text", queries, k=10)
    return retrieval.term_overlap_topk(d, "doc_id", "text", queries, k=10)


_MODULES = {
    "hybrid_serving": hybrid_mod,
    "search_serving": search_mod,
    "bm25_topk": retrieval,
    "term_overlap_topk": retrieval,
}


@pytest.mark.parametrize("batch", sorted(_BATCHES))
@pytest.mark.parametrize("name", sorted(_MODULES))
def test_driver_dedup_matches_distinct(
    spark, serving_inputs, monkeypatch, name, batch
):
    queries = _BATCHES[batch]
    new = _run(name, serving_inputs, queries)
    new_rows = sorted(tuple(r) for r in new.collect())
    with monkeypatch.context() as m:
        m.setattr(_MODULES[name], "query_terms", _list_distinct_terms)
        old = _run(name, serving_inputs, queries)
        old_rows = sorted(tuple(r) for r in old.collect())
    assert new.schema == old.schema
    assert new_rows == old_rows
    if batch == "empty":
        assert new_rows == []
    else:
        assert {r[0] for r in new_rows} == {1, 2, 3}


# --- grep gate ------------------------------------------------------------


def test_no_list_create_dataframe_outside_local_frame():
    """Every driver-built frame goes through ``local_frame``: a list
    ``createDataFrame`` anywhere else in the package brings a pickled
    Python RDD (and Python-worker tasks) back onto the data path."""
    lines, start = inspect.getsourcelines(local_frame)
    helper = (os.path.abspath(session_mod.__file__), start, start + len(lines))
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                for n, line in enumerate(fh, 1):
                    if "createDataFrame(" not in line:
                        continue
                    if path == helper[0] and helper[1] <= n < helper[2]:
                        continue
                    offenders.append(f"{os.path.relpath(path, PKG)}:{n}")
    assert not offenders, offenders
