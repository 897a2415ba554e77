"""Operator-parity corpus (SURVEY.md §5.2).

Each submodule registers named queries (Spark callables over
``(spark, sf_dir)``) and, for every SQL-expressible one, a DuckDB
oracle twin. The driver — and tests/test_oracle_parity.py locally —
runs both sides and compares row-count + schema + values.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Container, Iterator

from pyspark.sql import DataFrame, SparkSession

from eco_pulse_lakehouse_spark.corpus import (
    extended,
    northstar,
    relational,
    streaming_corpus,
    tpch,
)

_MODULES = (relational, extended, tpch, northstar, streaming_corpus)

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# Entries whose code changed after their latest CORRECTNESS row: they
# lead the correctness window. A change adds every registry entry
# whose code path it touches; empty the set when the next
# CORRECTNESS_r*.json lands, because that file is their new evidence.
CHANGED: frozenset[str] = frozenset(
    {
        "a18_equidepth_hist",
        "a31_weighted_median",
        "flagship_data_factory",
        "flagship_data_factory_nb",
        "flagship_hybrid_serving",
        "flagship_search_serving",
        "flagship_tokenizer_pipeline",
        "o4_distributed_global_rank",
        "q11_ks_drift",
        "s12_orc_roundtrip",
        "s13_schema_evolution",
        "s15_compaction",
        "s20_versioned_history",
        "s5_write_roundtrip",
        "s7_csv_roundtrip",
        "t10_stream_stream_join",
        "t11_stream_stream_left_join",
        "t12_python_stream_source",
        "t13_chained_windows",
        "t14_sliding_windows",
        "t15_stream_reassembly",
        "t16_stream_fanout",
        "t17_stream_countmin",
        "t18_stream_lsh_index",
        "t19_stream_ann_ingest",
        "t20_stream_versioned_gold",
        "t21_cdf_incremental_agg",
        "t22_stream_cdf",
        "t23_stream_psi",
        "t24_stream_ks",
        "t25_stream_semdedup",
        "t26_stream_heavy_hitters",
        "t27_stream_patterns",
        "t29_stream_dataset_card",
        "t30_stream_twap",
        "t31_stream_chi2",
        "t32_stream_bm25",
        "t33_stream_holt",
        "t34_stream_hw_seasonal",
        "t35_stream_dedup_clusters",
        "t36_stream_bpe",
        "t37_stream_dsir",
        "t38_stream_line_dedup",
        "t39_stream_wordpiece",
        "t3_stream_append_silver",
        "t40_stream_wordpiece_infer",
        "t41_stream_nb_gate",
        "t42_stream_gold_topk",
        "t43_stream_rag_context",
        "t44_stream_nb_gate_sweep",
        "t45_stream_decontaminate",
        "t46_stream_unimax",
        "t47_stream_search_serving",
        "t48_stream_winnowing",
        "t49_stream_hybrid_serving",
        "t50_stream_hybrid_index",
        "t51_stream_winnowing_clusters",
        "t52_stream_hybrid_loop",
        "t53_stream_winnowing_incremental",
        "t5_stream_dedup",
        "t6_stream_windowed_counts",
        "t8_stream_static_join",
        "w16_sax_motif_pairs",
        "w19_sax_motif_capped",
        "x2_phonetic_bounded",
        "x2_snm_multipass",
        "x2_sorted_neighborhood",
        "x2_winnowing_bounded",
        "x3_ivf_persisted",
        "x4_bm25",
        "x4_bpe_merges",
        "x4_bpe_segment",
        "x4_bpe_token_count",
        "x4_perplexity_buckets",
        "x4_prf_expansion",
        "x4_rrf_fusion",
        "x4_wordpiece_merges",
        "x4_wordpiece_segment",
        "x4_wordpiece_token_count",
        "x6_budget_select",
        "x6_domain_mixture",
        "x6_unimax_mixture",
        "x7_curriculum",
    }
)


def correctness_rows(root: str) -> Iterator[tuple[int, str, dict]]:
    """``(round, name, row)`` for every row of the
    ``CORRECTNESS_r<round>.json`` certification files in ``root``."""
    for fname in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m is None:
            continue
        with open(os.path.join(root, fname)) as fh:
            for name, row in json.load(fh).items():
                if isinstance(row, dict):
                    yield int(m.group(1)), name, row


def is_green(row: dict, has_oracle: bool) -> bool:
    """The certification pass verdict for one row. An entry with an
    oracle needs rows, schema and hash to match; a rows-only entry is
    recorded as ``err="no_oracle"`` and passes iff it produced rows."""
    if has_oracle:
        return all(
            row.get(k) for k in ("rows_match", "schema_match", "hash_match")
        )
    return row.get("spark_rows") is not None and row.get("err") in (
        None,
        "no_oracle",
    )


def latest_green(oracle_names: Container[str], root: str) -> dict[str, int]:
    """``{name: latest round with a green row}``; never-green entries
    are absent."""
    out: dict[str, int] = {}
    for rnd, name, row in correctness_rows(root):
        if rnd > out.get(name, 0) and is_green(row, name in oracle_names):
            out[name] = rnd
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable] = {}
    for m in _MODULES:
        overlap = out.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate corpus query names: {overlap}")
        out.update(m.QUERIES)
    # Correctness-window order: changed code first, then the oldest
    # evidence (never checked = round 0). The sort is stable, so
    # registration order holds within a round.
    age = latest_green(oracle_sql().keys(), _REPO)
    names = sorted(out, key=lambda n: (n not in CHANGED, age.get(n, 0)))
    return {k: out[k] for k in names}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out
