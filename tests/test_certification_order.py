"""Correctness-window order of ``corpus.queries()``.

Certification runs a window at the front of ``queries()``, so the
order is the rotation policy: entries in ``corpus.CHANGED`` first,
then oldest evidence first (never checked counts as round 0), with
registration order within a round. The evidence is the committed
``CORRECTNESS_r*.json`` files. No Spark session is needed.
"""

from __future__ import annotations

import importlib.util
import json
import os
from types import SimpleNamespace

import pytest

from eco_pulse_lakehouse_spark import corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _row(**over) -> dict:
    row = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "spark_rows": 5,
        "oracle_rows": 5,
        "err": None,
    }
    row.update(over)
    return row


_RED = _row(rows_match=False, err="rows differ")
_NO_ORACLE = _row(
    rows_match=None, schema_match=None, hash_match=None, oracle_rows=None,
    err="no_oracle",
)


@pytest.fixture
def order(tmp_path, monkeypatch):
    """Window order of a synthetic registry over synthetic evidence.

    ``history`` maps round -> {name: row}; every name has an oracle
    unless listed in ``no_oracle``."""

    def run(names, history, changed=(), no_oracle=()):
        for rnd, rows in history.items():
            path = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
            path.write_text(json.dumps(rows))
        mod = SimpleNamespace(
            QUERIES={n: None for n in names},
            ORACLES={n: "SELECT 1" for n in names if n not in no_oracle},
        )
        monkeypatch.setattr(corpus, "_MODULES", (mod,))
        monkeypatch.setattr(corpus, "_REPO", str(tmp_path))
        monkeypatch.setattr(corpus, "CHANGED", frozenset(changed))
        return list(corpus.queries())

    return run


def test_changed_leads(order):
    history = {1: {"a": _row(), "c": _row()}, 9: {"b": _row()}}
    assert order(["a", "b", "c", "d"], history, changed={"b"}) == [
        "b", "d", "a", "c",
    ]


def test_never_checked_comes_next(order):
    history = {1: {"a": _row()}, 2: {"c": _row()}}
    assert order(["a", "b", "c"], history) == ["b", "a", "c"]


def test_older_green_before_newer_green(order):
    history = {1: {"c": _row()}, 3: {"a": _row()}, 7: {"b": _row()}}
    assert order(["a", "b", "c"], history) == ["c", "a", "b"]


def test_registration_order_holds_within_a_round(order):
    history = {4: {n: _row() for n in "abcd"}}
    assert order(["d", "b", "a", "c"], history) == ["d", "b", "a", "c"]


def test_no_evidence_files_keep_registration_order(order):
    assert order(["d", "b", "a", "c"], {}) == ["d", "b", "a", "c"]


def test_red_latest_row_keeps_older_green_age(order):
    history = {1: {"a": _row()}, 3: {"b": _row()}, 5: {"a": _RED}}
    assert order(["b", "a"], history) == ["a", "b"]


def test_hash_mismatch_is_not_green(order):
    history = {
        1: {"a": _row()},
        3: {"b": _row()},
        5: {"a": _row(hash_match=False)},
    }
    assert order(["b", "a"], history) == ["a", "b"]
    assert corpus.latest_green({"a", "b"}, corpus._REPO) == {"a": 1, "b": 3}


def test_no_oracle_entry_green_on_no_oracle_err(order):
    history = {
        2: {"a": _row(), "b": _NO_ORACLE},
        4: {"b": _NO_ORACLE},
        6: {"b": _row(spark_rows=None, err="no_oracle")},
    }
    assert order(["b", "a"], history, no_oracle={"b"}) == ["a", "b"]
    assert corpus.latest_green({"a"}, corpus._REPO) == {"a": 2, "b": 4}
    # the same row for an entry WITH an oracle is not green
    assert not corpus.is_green(_NO_ORACLE, has_oracle=True)


def test_files_other_than_correctness_rounds_are_ignored(tmp_path):
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"a": _row(), "note": "not a row"})
    )
    (tmp_path / "CORRECTNESS_r04_c8.json").write_text("{}")
    (tmp_path / "BENCH_r05.json").write_text(json.dumps({"a": _row()}))
    assert list(corpus.correctness_rows(str(tmp_path))) == [
        (3, "a", _row())
    ]


# ---- the real registry over the committed CORRECTNESS files ----


def test_changed_names_are_registered():
    assert corpus.CHANGED <= corpus.queries().keys()


def test_ages_after_changed_block_never_decrease():
    qs = list(corpus.queries())
    front = qs[: len(corpus.CHANGED)]
    assert set(front) == corpus.CHANGED
    age = corpus.latest_green(corpus.oracle_sql().keys(), corpus._REPO)
    rest = [age.get(n, 0) for n in qs[len(corpus.CHANGED):]]
    assert rest == sorted(rest)


def test_queries_keeps_every_registered_key():
    qs = corpus.queries()
    registered = [n for m in corpus._MODULES for n in m.QUERIES]
    assert len(qs) == len(registered) == 351
    assert set(qs) == set(registered)


def test_oracle_sql_is_registration_ordered_and_registered():
    osql = corpus.oracle_sql()
    merged = {k: v for m in corpus._MODULES for k, v in m.ORACLES.items()}
    assert list(osql.items()) == list(merged.items())
    assert len(osql) == 343
    assert osql.keys() <= corpus.queries().keys()


def test_staleness_audit_agrees_with_window():
    spec = importlib.util.spec_from_file_location(
        "staleness_audit", os.path.join(REPO, "tools", "staleness_audit.py")
    )
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    out = audit.audit()
    assert list(out["window_first50_ages"]) == list(corpus.queries())[:50]
    assert not [f for f in out["flags"] if f.startswith("never-checked")]
