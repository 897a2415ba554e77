"""Tiny registration and scratch-path helpers shared by corpus modules."""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import uuid

from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.catalog import load_table as T  # noqa: F401


def scratch(tag: str, key: str | None = None) -> str:
    """A temp path that does not exist yet: ``<tag>_<uuid hex>`` under
    this process's scratch root, which is made on first use and
    removed at interpreter exit. ``key`` names a path kept across
    processes instead, ``<tempdir>/eco_pulse_<tag>_<key>``: the
    per-scale-factor tables that are built once and then reused."""
    if key is not None:
        return os.path.join(tempfile.gettempdir(), f"eco_pulse_{tag}_{key}")
    return os.path.join(_scratch_root(), f"{tag}_{uuid.uuid4().hex}")


@functools.cache
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="eco_pulse_run_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def make_registry():
    queries: dict = {}
    oracles: dict[str, str] = {}

    def q(name: str, oracle: str | None = None):
        def deco(fn):
            if name in queries:
                raise ValueError(f"duplicate corpus name {name}")
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return queries, oracles, q


def dec_sum(col, alias: str, scale: int = 4):
    """Order-independent float sum: exact DECIMAL accumulation, cast back.

    Spark partial aggregation adds doubles in partition order, which is
    nondeterministic at scale; decimal accumulation is exact so the
    result is stable AND matches the DuckDB oracle bit-for-bit. The
    oracle twin is :func:`o_dec_sum` (whose final cast hops through
    STRING so DuckDB's decimal→double conversion is correctly rounded
    at every scale; Spark's own cast here already is).
    """
    c = col if not isinstance(col, str) else F.col(col)
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


def o_dec_sum(expr: str, alias: str, scale: int = 4) -> str:
    # The decimal→double cast goes through STRING in the ORACLE (r14):
    # DuckDB's direct DECIMAL→DOUBLE cast is double(int128)/10^scale —
    # TWO roundings, up to 1 ulp off correct rounding once the scaled
    # sum exceeds 2^53 (measured: the tpch_q1 sum_charge sf1 drift,
    # VERDICT r13 item 2) — while decimal→VARCHAR→strtod is correctly
    # rounded. Spark's own cast (JDK BigDecimal.doubleValue) is
    # correctly rounded in that regime, so the hop makes both engines
    # exact at EVERY scale and is a provable no-op below 2^53 (all
    # certified SFs — re-swept green).
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS STRING)"
        f" AS DOUBLE) AS {alias}"
    )


def dec_avg(col, alias: str, scale: int = 4):
    """Order-independent mean: exact decimal sum divided by count."""
    c = col if not isinstance(col, str) else F.col(col)
    return (
        F.sum(c.cast(f"decimal(18,{scale})")).cast("double")
        / F.count(c)
    ).alias(alias)


def o_dec_avg(expr: str, alias: str, scale: int = 4) -> str:
    # same STRING hop as o_dec_sum (correct rounding at every scale)
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS STRING)"
        f" AS DOUBLE) / COUNT({expr}) AS {alias}"
    )
