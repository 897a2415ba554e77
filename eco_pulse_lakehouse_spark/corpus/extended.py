"""Extended corpus — engine-completeness operators beyond the
reference's literal surface (SURVEY.md §2.3 J3-extensions, §2.10,
§4.2 rewrites): as-of join, MERGE upsert, pandas escape hatches,
sessionization, pivot, quantiles, explode, map lookup, haversine,
salted (skew-safe) aggregation, partitioned/JSON source round-trips.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.corpus._registry import (
    T,
    make_registry,
    o_dec_sum,
    scratch,
)
from eco_pulse_lakehouse_spark.operators import joins as oj
from eco_pulse_lakehouse_spark.operators import merge as om
from eco_pulse_lakehouse_spark.operators import pandas_ops as op
from eco_pulse_lakehouse_spark.operators import skew as osk
from eco_pulse_lakehouse_spark.sources import batch_io

QUERIES, ORACLES, q = make_registry()

_TMP = os.path.join(tempfile.gettempdir(), "eco_pulse_corpus")


# --- joins ----------------------------------------------------------------


@q(
    "j4_asof_join",
    """
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r.value AS station_value, r.ts AS station_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type IN ('view','click')) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def j4_asof_join(spark, sf_dir):
    """J4 — as-of join (operators/joins.py:asof_join): for each error
    event, the most recent prior view/click of the same user. One
    union-tag + ranking-window sweep, one shuffle on the key."""
    ev = T(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("r_ts"),
        F.col("value").alias("station_value"),
    )
    joined = oj.asof_join(
        left,
        right.withColumnRenamed("r_ts", "ts_r"),
        on="user_id",
        left_ts="ts",
        right_ts="ts_r",
        right_vals=["station_value", "ts_r"],
    )
    return joined.select(
        "event_id", "user_id", "ts", "value",
        "station_value", F.col("ts_r").alias("station_ts"),
    )


# --- MERGE / upsert -------------------------------------------------------


@q(
    "m1_merge_upsert",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey % 3 = 0 THEN 'U'
                ELSE o_orderstatus END AS o_orderstatus
    FROM orders
    """,
)
def m1_merge_upsert(spark, sf_dir):
    """MERGE semantics without Delta (operators/merge.py:upsert):
    updates win on key collision, everything else survives — replaces
    the reference's overwrite-the-world loop (gold_batch_job.py:83-101).
    """
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    return om.upsert(o, updates, ["o_orderkey"])


# --- pandas escape hatch --------------------------------------------------


@q(
    "u1_pandas_running_max",
    """
    SELECT user_id, event_id, value,
           MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_max
    FROM events
    """,
)
def u1_pandas_running_max(spark, sf_dir):
    """§2.10 — grouped-map applyInPandas (Arrow batches per group);
    comparison-only math so the result is exact across engines."""
    return op.grouped_running_max(
        T(spark, sf_dir, "events"), "user_id", "ts", "event_id", "value"
    )


@q(
    "u2_pandas_normalize",
    "SELECT doc_id, text AS norm FROM documents",
)
def u2_pandas_normalize(spark, sf_dir):
    """§2.10 — vectorized scalar pandas_udf: normalize(' ' || UPPER(text)
    || ' ') must round-trip to the original lowercase text."""
    d = T(spark, sf_dir, "documents")
    noisy = F.concat(F.lit("  "), F.upper("text"), F.lit("  "))
    return d.select("doc_id", op.normalize_text(noisy).alias("norm"))


# --- windows: sessionization ---------------------------------------------


@q(
    "w7_sessionize",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                 - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id)
               <= 1800 THEN 0 ELSE 1 END AS is_new
      FROM events
    )
    """,
)
def w7_sessionize(spark, sf_dir):
    """W7 — sessionization: lag-gap flag + running sum (the guide's
    batch sessionize; session_window covers the streaming case).
    Exact integer arithmetic only."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    ) <= 1800
    flagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(gap_ok, 0).otherwise(1).alias("is_new"),
    )
    return flagged.withColumn(
        "session_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("is_new")


@q(
    "w8_range_frame",
    """
    SELECT event_id, user_id, epoch_s,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE)
             AS trailing_30m_sum
    FROM (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, value
          FROM events)
    """,
)
def w8_range_frame(spark, sf_dir):
    """W3/W8 — RANGE frame over event-time seconds: trailing-30-minute
    sum per key (value-based frame, not row-count — the time-series
    rolling form; decimal-exact)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-1800, Window.currentRow)
    )
    ev = T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ltz").cast("long").alias("epoch_s"),
        "value",
    )
    return ev.select(
        "event_id",
        "user_id",
        "epoch_s",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("trailing_30m_sum"),
    )


@q(
    "w9_rank_family",
    """
    SELECT event_id, user_id,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
)
def w9_rank_family(spark, sf_dir):
    """W9 — ntile/percent_rank/cume_dist over a total per-key order
    (small-int ratios → engine-independent doubles)."""
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@q(
    "w10_null_ordering",
    """
    SELECT event_id,
           CAST(row_number() OVER (
             ORDER BY nullif(value, 0.0) ASC NULLS LAST, event_id) AS INT)
             AS rn_nulls_last
    FROM events WHERE user_id = 0
    """,
)
def w10_null_ordering(spark, sf_dir):
    """W10 — explicit null ordering. Spark's ASC default is NULLS
    FIRST, DuckDB's is NULLS LAST — any ordered operator over nullable
    keys MUST pin the null position explicitly on both sides."""
    from pyspark.sql import Window as W

    w = W.orderBy(
        F.nullif(F.col("value"), F.lit(0.0)).asc_nulls_last(),
        F.col("event_id"),
    )
    return (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") == 0)
        .select("event_id", F.row_number().over(w).alias("rn_nulls_last"))
    )


# --- aggregation extensions ----------------------------------------------


@q(
    "a9_pivot",
    """
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events GROUP BY user_id
    """,
)
def a9_pivot(spark, sf_dir):
    """A9 — pivot with explicit value list (never inferred: inference
    is an extra job and unstable columns at scale)."""
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )
    return out


@q(
    "a10_quantiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a10_quantiles(spark, sf_dir):
    """A10 — exact linear-interpolated percentiles (both engines use
    the (n-1)p rule); approx_percentile is the 100 TB variant
    (rows-only: a10_approx_quantiles)."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 6).alias("p95"),
    )


@q("a10_approx_quantiles")  # sketch (GK) — no cross-engine oracle
def a10_approx_quantiles(spark, sf_dir):
    """A10 — approx_percentile sketch, the scale path for quantiles;
    accuracy asserted against exact percentiles in pytest."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(1000)).alias(
            "p50_approx"
        )
    )


@q(
    "a13_collect_set",
    """
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',')
             AS types
    FROM events GROUP BY user_id
    """,
)
def a13_collect_set(spark, sf_dir):
    """A13 — set aggregation to an array column. collect_set order is
    nondeterministic; sort_array makes it canonical (the only way an
    array-valued aggregate can be stable across partitionings). The
    entry surfaces the set comma-joined: top-level array columns
    break the driver's pandas canonicalizer (round-2 verdict)."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("event_type")), ","
            ).alias("types")
        )
    )


@q(
    "a11_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def a11_grouping_sets(spark, sf_dir):
    """A11 — explicit grouping sets (disjoint subtotal lattices beyond
    rollup's prefix chain)."""
    from eco_pulse_lakehouse_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@q(
    "a12_exact_stats",
    """
    SELECT l_returnflag,
           (s2 - s1 * s1 / n) / (n - 1) AS var_samp,
           sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev_samp
    FROM (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS s2
      FROM lineitem GROUP BY l_returnflag
    )
    """,
)
def a12_exact_stats(spark, sf_dir):
    """A12 — variance/stddev via decimal-exact moment sums. The
    built-in stddev is single-pass (Welford) and ORDER-DEPENDENT in
    its float error — nondeterministic under AQE repartitioning; the
    two-moment decimal form is partitioning-independent (the engine's
    float-determinism policy applied to second moments)."""
    li = T(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .cast("double")
        .alias("s1"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(18,8)"))
        .cast("double")
        .alias("s2"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    return base.select(
        "l_returnflag",
        var.alias("var_samp"),
        F.sqrt(var).alias("stddev_samp"),
    )


# --- scalar extensions ----------------------------------------------------


@q(
    "f_string_extended",
    """
    SELECT p_partkey,
           translate(p_brand, '#', '_') AS brand_t,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           reverse(p_name) AS name_rev,
           repeat(p_brand, 2) AS brand_2x,
           split_part(p_type, ' ', 1) AS type_head,
           CAST(position('A' IN p_name) AS INT) AS first_a
    FROM part
    """,
)
def f_string_extended(spark, sf_dir):
    """F — extended string surface: translate/lpad/reverse/repeat/
    split_part/position (F6/F11 family completion)."""
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.translate("p_brand", "#", "_").alias("brand_t"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.reverse("p_name").alias("name_rev"),
        F.repeat("p_brand", 2).alias("brand_2x"),
        F.split_part("p_type", F.lit(" "), F.lit(1)).alias("type_head"),
        F.instr("p_name", "A").alias("first_a"),
    )


@q(
    "f_explode_tokens",
    """
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def f_explode_tokens(spark, sf_dir):
    """F — explode/unnest + re-aggregate (the token-count shape)."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "f_map_lookup",
    """
    SELECT event_id,
           CASE event_type WHEN 'signup' THEN 0 WHEN 'purchase' THEN 1
                WHEN 'click' THEN 2 WHEN 'view' THEN 3 WHEN 'error' THEN 4
                ELSE NULL END AS type_code
    FROM events
    """,
)
def f_map_lookup(spark, sf_dir):
    """F7 — dict-map ordinal lookup (app.py:63-64's risk_order dict) as
    element_at(create_map(...)) — the literal-map alternative to a
    when-chain."""
    m = F.create_map(
        F.lit("signup"), F.lit(0),
        F.lit("purchase"), F.lit(1),
        F.lit("click"), F.lit(2),
        F.lit("view"), F.lit(3),
        F.lit("error"), F.lit(4),
    )
    return T(spark, sf_dir, "events").select(
        "event_id", F.element_at(m, F.col("event_type")).alias("type_code")
    )


@q(
    "f_haversine",
    """
    SELECT event_id,
           round(2 * 6371.0088 * asin(sqrt(
             sin(radians(40.0 - (value % 90.0)) / 2)
               * sin(radians(40.0 - (value % 90.0)) / 2)
             + cos(radians(value % 90.0)) * cos(radians(40.0))
               * sin(radians(-3.0 - (value % 180.0)) / 2)
               * sin(radians(-3.0 - (value % 180.0)) / 2)
           )), 4) AS dist_km
    FROM events
    """,
)
def f_haversine(spark, sf_dir):
    """F — Haversine (the canonical mode the reference's README claims
    but never implements — README.MD:281 vs gold_batch_job.py:54-57).
    Rounded to 4 (libm trig may differ in the last ulp across engines).
    """
    from eco_pulse_lakehouse_spark.functions.scalar import haversine_km

    ev = T(spark, sf_dir, "events")
    lat = F.col("value") % 90.0
    lon = F.col("value") % 180.0
    return ev.select(
        "event_id",
        F.round(haversine_km(lat, lon, F.lit(40.0), F.lit(-3.0)), 4).alias(
            "dist_km"
        ),
    )


# --- skew-safe aggregation ------------------------------------------------


@q(
    "skew1_salted_count",
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def skew1_salted_count(spark, sf_dir):
    """Skew — two-phase salted count (operators/skew.py): bit-identical
    to the plain groupBy, shuffle pressure divided by the salt factor."""
    return osk.salted_count(
        T(spark, sf_dir, "events"), ["event_type"], salt_buckets=16,
        tiebreak="event_id",
    )


@q(
    "skew2_salted_sum",
    f"""
    SELECT event_type, {o_dec_sum('value', 'total_value')}
    FROM events GROUP BY event_type
    """,
)
def skew2_salted_sum(spark, sf_dir):
    """Skew — two-phase salted decimal sum: exact accumulation makes
    the two-phase result provably equal to single-phase."""
    return osk.salted_decimal_sum(
        T(spark, sf_dir, "events"), ["event_type"], F.col("value"),
        "total_value", salt_buckets=16, tiebreak="event_id",
    )


@q(
    "q1_quality_gate",
    """
    SELECT event_id,
           coalesce(array_to_string(list_sort(list_filter([
             CASE WHEN NOT coalesce(value < 150.0, false)
                  THEN 'value_bounded' END,
             CASE WHEN NOT coalesce(event_type != 'error', false)
                  THEN 'not_error' END,
             CASE WHEN NOT coalesce(
                    CAST(json_extract_string(props, '$.k') AS BIGINT) <= 50,
                    false)
                  THEN 'k_small' END
           ], x -> x IS NOT NULL)), ','), '') AS violations
    FROM events
    """,
)
def q1_quality_gate(spark, sf_dir):
    """Quality gate (operators/quality.py): expectation checks as one
    pass of column expressions, violations annotated per row — the
    dead-letter path the reference lacks (silent all-NULL rows,
    SURVEY.md §1.3). Violations surface as a canonically-sorted
    comma-joined string (top-level array columns break the driver's
    pandas canonicalizer — round-2 verdict)."""
    from eco_pulse_lakehouse_spark.operators.quality import annotate

    ev = T(spark, sf_dir, "events")
    rules = {
        "value_bounded": F.col("value") < 150.0,
        "not_error": F.col("event_type") != "error",
        "k_small": F.from_json(F.col("props"), "k BIGINT").getField("k") <= 50,
    }
    return annotate(ev, rules).select(
        "event_id",
        F.array_join(F.array_sort("violations"), ",").alias("violations"),
    )


@q(
    "skew3_salted_join",
    """
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def skew3_salted_join(spark, sf_dir):
    """Skew — salted equi-join (operators/skew.py:salted_join): fact
    sharded 8 ways, dim replicated ×8, join on (key, salt). Identical
    to the plain join (the oracle IS the plain join)."""
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return osk.salted_join(
        o, c, "o_custkey", "c_custkey", salt_buckets=8, tiebreak="o_orderkey"
    ).select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@q(
    "skew4_hot_key_count",
    """
    SELECT hot_key, COUNT(*) AS n
    FROM (SELECT CASE WHEN event_id % 10 != 0 THEN -1 ELSE user_id END
            AS hot_key FROM events)
    GROUP BY hot_key
    """,
)
def skew4_hot_key_count(spark, sf_dir):
    """ADVERSARIAL skew (VERDICT r03 item 5): 90% of rows are
    remapped onto ONE hot key, then counted through the two-phase
    salted aggregate — same operator, salt factor, and row count as
    the uniform twin skew1_salted_count, so the bench pair shows the
    guard holding under a melted-reducer distribution (a plain
    groupBy would push 90% of the table through one reducer; the
    salt spreads it over 16). Oracle is the plain remap + count."""
    ev = T(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 10 != 0, F.lit(-1).cast("bigint"))
        .otherwise(F.col("user_id"))
        .alias("hot_key"),
        "event_id",
    )
    return osk.salted_count(
        ev, ["hot_key"], salt_buckets=16, tiebreak="event_id"
    )


@q(
    "skew5_hot_key_join",
    """
    SELECT o_orderkey, o_totalprice, hot_custkey, c_name
    FROM (SELECT o_orderkey, o_totalprice,
                 CASE WHEN o_orderkey % 10 != 0 THEN 1
                      ELSE o_custkey END AS hot_custkey
          FROM orders) o
    JOIN customer ON hot_custkey = c_custkey
    """,
)
def skew5_hot_key_join(spark, sf_dir):
    """ADVERSARIAL skew join (VERDICT r03 item 5): 90% of the fact
    keys collapse onto customer 1, joined through salted_join — same
    operator/salt/rows as the uniform twin skew3_salted_join. The
    hot key spreads over 8 (key, salt) shards instead of melting one
    reducer; the bench pair pins the within-2×-of-uniform contract.
    Oracle is the plain join on the remapped key."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 != 0, F.lit(1).cast("bigint"))
        .otherwise(F.col("o_custkey"))
        .alias("hot_custkey"),
    )
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return osk.salted_join(
        o, c, "hot_custkey", "c_custkey", salt_buckets=8,
        tiebreak="o_orderkey",
    ).select("o_orderkey", "o_totalprice", "hot_custkey", "c_name")


# --- sources --------------------------------------------------------------


@q(
    "s22_xml_roundtrip",
    "SELECT event_id, user_id, value, event_type FROM events",
)
def s22_xml_roundtrip(spark, sf_dir):
    """S-family — XML source/sink (BUILT-IN since Spark 4.0, no
    spark-xml package): write the events projection as row-tagged
    XML, read it back with an explicit schema. The remaining
    format-gated source is Avro (external module jar, absent;
    verified 2026-08-14 — same class of gate as delta). Timestamps
    stay out of the projection (XML has no native timestamp lexical
    form; s8 pins the string-format discipline for JSON)."""
    path = os.path.join(
        _TMP, f"s22_xml_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    ev = T(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    (
        ev.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .save(path)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema(
            "event_id BIGINT, user_id BIGINT, value DOUBLE, "
            "event_type STRING"
        )
        .load(path)
    )


@q(
    "s23_binary_file",
    """
    SELECT format('f{:03d}.bin', i) AS fname,
           CAST(50 + i AS BIGINT) AS length,
           CAST((i * 7) % 251 AS INT) AS head,
           CAST((i * 7 + 49 + i) % 251 AS INT) AS tail
    FROM (SELECT unnest(range(20)) AS i)
    """,
)
def s23_binary_file(spark, sf_dir):
    """S-family — ``binaryFile`` source: the ingestion path for
    opaque media blobs (operators/multimodal.py's payload column is
    exactly this shape — path metadata + binary content). Stages 20
    deterministic files, reads them back with (path, length,
    content), and projects byte-level facts (head/tail bytes via
    hex — binary→string casts would mangle bytes ≥ 0x80) that the
    oracle recomputes arithmetically. At 100 TB this source is
    listed-driven (one task per file range) with
    pathGlobFilter/recursiveFileLookup pruning; content never
    shuffles here — metadata-plane only, like x5_resize_plan."""
    path = os.path.join(
        _TMP, f"s23_bin_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    os.makedirs(path, exist_ok=True)
    for i in range(20):
        with open(os.path.join(path, f"f{i:03d}.bin"), "wb") as fh:
            fh.write(bytes((i * 7 + j) % 251 for j in range(50 + i)))
    df = spark.read.format("binaryFile").load(path)
    byte_at = lambda pos: F.conv(  # noqa: E731
        F.hex(F.expr(f"substring(content, {pos}, 1)")), 16, 10
    ).cast("int")
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length"),
        byte_at("1").alias("head"),
        F.conv(
            F.hex(F.expr("substring(content, length(content), 1)")), 16, 10
        ).cast("int").alias("tail"),
    )


@q(
    "s8_json_source",
    "SELECT event_id, ts, user_id, value FROM events",
)
def s8_json_source(spark, sf_dir):
    """S8 — JSON-lines round trip with explicit schema (HTTP-payload
    ingest shape, weather_producer.py:94-114)."""
    path = os.path.join(_TMP, f"s8_json_{os.path.basename(sf_dir.rstrip('/'))}")
    # events.ts arrives as TIMESTAMP(NANOS) parquet => Spark reads
    # TIMESTAMP_NTZ, where the NTZ-specific format option governs (the
    # plain timestampFormat is silently ignored and the default write
    # truncates to millis). Pin the type and use timestampNTZFormat on
    # BOTH sides so micros survive the round trip.
    ev = T(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "value",
    )
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ev.write.mode("overwrite").option("timestampNTZFormat", fmt).json(path)
    return (
        spark.read.schema(
            "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, value DOUBLE"
        )
        .option("timestampNTZFormat", fmt)
        .json(path)
    )


@q(
    "s11_partitioned_scan",
    """
    SELECT event_id, user_id, value, event_type
    FROM events WHERE event_type = 'click'
    """,
)
def s11_partitioned_scan(spark, sf_dir):
    """S11 — hive-partitioned write + partition-pruned read (closes the
    README.MD:73 claim; pruning asserted in tests/test_plans.py)."""
    path = os.path.join(_TMP, f"s11_part_{os.path.basename(sf_dir.rstrip('/'))}")
    ev = T(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    batch_io.write_partitioned(ev, path, ["event_type"])
    return spark.read.parquet(path).filter(F.col("event_type") == "click")


# --- global total-order (O2) ---------------------------------------------


@q(
    "o4_distributed_global_rank",
    """
    SELECT event_id,
           row_number() OVER (ORDER BY ts, event_id) AS rn
    FROM events
    """,
)
def o4_distributed_global_rank(spark, sf_dir):
    """O2 at scale — total-order row_number WITHOUT a single-partition
    window (operators/rank.py:global_row_number): range shuffle +
    per-partition local ranks + broadcast offsets. Same oracle as the
    one-partition form ⇒ composition proven exact."""
    from eco_pulse_lakehouse_spark.operators.rank import global_row_number

    ev = T(spark, sf_dir, "events").select("event_id", "ts")
    return global_row_number(
        ev, [F.col("ts"), F.col("event_id")], out_col="rn"
    ).select("event_id", "rn")


@q(
    "o2_global_rank",
    """
    SELECT l_orderkey, l_linenumber, rn FROM (
      SELECT l_orderkey, l_linenumber,
             CAST(row_number() OVER (ORDER BY l_returnflag, l_linestatus,
               l_orderkey, l_linenumber) AS INT) AS rn
      FROM lineitem
    ) WHERE rn <= 100
    """,
)
def o2_global_rank(spark, sf_dir):
    """O2 — multi-key total order (app.py:66) surfaced as a global
    row_number. Single-partition window — corpus-scale only; at scale
    use orderBy().limit() (TakeOrderedAndProject) or zipWithIndex."""
    w = Window.orderBy("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")
    return (
        T(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 100)
    )


@q(
    "q2_zscore_outliers",
    """
    WITH s AS (SELECT event_type, avg(value) AS m,
                      stddev_samp(value) AS sd
               FROM events GROUP BY event_type)
    SELECT event_id, event_type, round(value, 6) AS value,
           round(abs(value - m) / sd, 6) AS zscore
    FROM events JOIN s USING (event_type)
    WHERE round(abs(value - m) / sd, 6) > 3.0
    """,
)
def q2_zscore_outliers(spark, sf_dir):
    """Data quality — per-group z-score anomaly flagging
    (operators/anomaly.py:zscore_outliers): one partial-aggregated
    groupBy + join back; rounded z so the threshold never straddles
    engines' last-ulp variance differences."""
    from eco_pulse_lakehouse_spark.operators.anomaly import zscore_outliers

    ev = T(spark, sf_dir, "events")
    return zscore_outliers(ev, ["event_type"], "value", threshold=3.0).select(
        "event_id", "event_type", F.round("value", 6).alias("value"), "zscore"
    )


@q(
    "q3_iqr_outliers",
    """
    WITH s AS (SELECT event_type,
                      quantile_cont(value, 0.25) AS q1,
                      quantile_cont(value, 0.75) AS q3
               FROM events GROUP BY event_type)
    SELECT event_id, event_type, round(value, 6) AS value,
           round(q1 - 1.5 * (q3 - q1), 6) AS fence_lo,
           round(q3 + 1.5 * (q3 - q1), 6) AS fence_hi
    FROM events JOIN s USING (event_type)
    WHERE value < round(q1 - 1.5 * (q3 - q1), 6)
       OR value > round(q3 + 1.5 * (q3 - q1), 6)
    """,
)
def q3_iqr_outliers(spark, sf_dir):
    """Data quality — Tukey-fence outliers per group
    (operators/anomaly.py:iqr_outliers): robust where z-score is not
    (extremes inflate stddev but barely move quartiles)."""
    from eco_pulse_lakehouse_spark.operators.anomaly import iqr_outliers

    ev = T(spark, sf_dir, "events")
    return iqr_outliers(ev, ["event_type"], "value", k=1.5).select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        "fence_lo",
        "fence_hi",
    )


@q(
    "q10_mad_outliers",
    """
    WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
               FROM events GROUP BY event_type),
    d AS (SELECT event_id, event_type, value, med
          FROM events JOIN m USING (event_type)),
    s AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
          FROM d GROUP BY event_type)
    SELECT event_id, event_type, round(value, 6) AS value,
           round(CAST(0.6745 AS DOUBLE) * (value - med) / mad, 6) AS mod_z,
           round(med, 6) AS group_median
    FROM d JOIN s USING (event_type)
    WHERE abs(round(CAST(0.6745 AS DOUBLE) * (value - med) / mad, 6)) > 3.5
    """,
)
def q10_mad_outliers(spark, sf_dir):
    """Data quality — modified-z outliers via the median absolute
    deviation (operators/anomaly.py:mad_outliers, Iglewicz-Hoaglin
    |0.6745·(x−med)/MAD| > 3.5): the robust detector that completes
    the q2 (z-score) / q3 (Tukey fence) family — 50% breakdown
    point, so even heavy contamination can't hide itself. Two
    percentile passes over the same key (an inherent two-pass
    statistic), interpolated medians under the shared (n-1)p rule,
    6dp rounding before the threshold compare."""
    from eco_pulse_lakehouse_spark.operators.anomaly import mad_outliers

    ev = T(spark, sf_dir, "events")
    return mad_outliers(ev, ["event_type"], "value", threshold=3.5).select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        "mod_z",
        "group_median",
    )


@q(
    "a14_histogram",
    """
    SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(MIN(value) AS DOUBLE) AS lo,
           CAST(MAX(value) AS DOUBLE) AS hi
    FROM events
    GROUP BY CAST(FLOOR(value / 10.0) AS BIGINT)
    """,
)
def a14_histogram(spark, sf_dir):
    """A-extra — equi-width histogram (width 10) over the metric
    column: one map-side-combinable aggregation keyed by the computed
    bucket (the distributed form of width_bucket; bucket count stays
    bounded no matter the row count, so the shuffle is tiny at any
    scale). min/max per bucket double as the bin-edge sanity check."""
    ev = T(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / F.lit(10.0)).cast("bigint")
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        F.min("value").cast("double").alias("lo"),
        F.max("value").cast("double").alias("hi"),
    )


@q(
    "f_sql_udf",
    """
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CASE WHEN value >= 150.0 THEN 'EXTREME'
                WHEN value >= 100.0 THEN 'VERY_HIGH'
                WHEN value >= 50.0 THEN 'HIGH'
                WHEN value >= 10.0 THEN 'MODERATE'
                ELSE 'LOW' END AS level,
           CAST((event_id * 2654435761) % 4294967296 AS DOUBLE)
             / 4294967296.0 AS u
    FROM events
    """,
)
def f_sql_udf(spark, sf_dir):
    """F-extra — Spark 4 SQL scalar UDFs (functions/sql_udfs.py):
    CREATE FUNCTION ... RETURN <expr> gives SQL-only users the
    engine's expressions, inlined by the analyzer into the calling
    plan (codegen, no Python round-trip). The oracle replays the
    UDF bodies inline — which is literally what Spark executes."""
    from eco_pulse_lakehouse_spark.catalog import register_views
    from eco_pulse_lakehouse_spark.functions.sql_udfs import register_sql_udfs

    register_views(spark, sf_dir)
    register_sql_udfs(spark)
    return spark.sql(
        """
        SELECT CAST(event_id AS BIGINT) AS event_id,
               eco_level(value) AS level,
               eco_unit_hash(event_id) AS u
        FROM events
        """
    )


@q(
    "f_variant_extract",
    """
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def f_variant_extract(spark, sf_dir):
    """F-extra — VARIANT semi-structured path (Spark 4):
    parse_json(props) -> variant_get('$.k'). VARIANT stores a parsed
    binary form, so repeated path extraction skips re-tokenizing the
    JSON text — the 100 TB answer to string-typed props columns
    (at rest it becomes a typed shredded column). DuckDB oracle uses
    its native json_extract."""
    ev = T(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("bigint"),
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
    )


@q(
    "s14_python_datasource",
    """
    SELECT CAST(i // 1000 AS INT) AS bucket,
           COUNT(*) AS n,
           SUM(CAST((i * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0)
             AS total_u
    FROM range(0, 8000) t(i)
    GROUP BY CAST(i // 1000 AS INT)
    """,
)
def s14_python_datasource(spark, sf_dir):
    """S14 — Python DataSource API (sources/pydatasource.py): the
    synthetic generator as an executor-side source with one
    InputPartition per split (vs the reference's driver-side mock
    rows). Values are pure functions of the global row id, so the
    aggregate is layout-independent; u's dyadic-rational construction
    keeps the float SUM exact without decimal accumulation."""
    from eco_pulse_lakehouse_spark.sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("eco_synthetic")
        .option("partitions", 8)
        .option("rowsPerPartition", 1000)
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("u").alias("total_u")
    )


@q(
    "x8_zorder_values",
    None,  # oracle generated below (identical bit-interleave in SQL)
)
def x8_zorder_values(spark, sf_dir):
    """X8 — Z-order clustering key (operators/layout.py:z_value):
    bit-interleave of (user_id mod 1024, clipped value) — the
    codegen'd projection behind zorder_layout. The data-skipping
    payoff (per-file bounding boxes an order of magnitude tighter) is
    measured in tests/test_pipeline_ops.py."""
    from eco_pulse_lakehouse_spark.operators.layout import z_value

    ev = T(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(1024))
    y = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.lit(1023).cast("bigint"), F.floor(F.col("value")).cast("bigint")),
    )
    return ev.select(
        F.col("event_id").cast("bigint"),
        z_value(x, y).alias("z"),
    )


def _x8_oracle() -> str:
    from eco_pulse_lakehouse_spark.operators.layout import z_value_sql

    x = "(user_id % 1024)"
    y = "GREATEST(0, LEAST(1023, CAST(FLOOR(value) AS BIGINT)))"
    return f"""
    SELECT CAST(event_id AS BIGINT) AS event_id,
           {z_value_sql(x, y)} AS z
    FROM events
    """


ORACLES["x8_zorder_values"] = _x8_oracle()


@q(
    "x8_hilbert_values",
    None,  # oracle generated below (identical unrolled CTE chain)
)
def x8_hilbert_values(spark, sf_dir):
    """X8 — Hilbert-curve clustering key
    (operators/layout.py:hilbert_values): the continuity-superior
    alternative to x8_zorder_values over the SAME (user_id mod 1024,
    clipped value) dimensions — consecutive Hilbert values are
    always grid neighbors (pinned on a full 16×16 grid; the Z-curve
    jumps at every quadrant boundary), while per-file bounding boxes
    stay in the Z-order class (measured ±15% — Z's dyadic
    rectangles are hard to beat on box AREA; Hilbert wins on
    segment contiguity). The xy→d recurrence is
    unrolled one projection per bit (named intermediates — inlining
    would 4×-duplicate the CASE tree per level); the oracle mirrors
    it as chained CTEs."""
    from eco_pulse_lakehouse_spark.operators.layout import hilbert_values

    ev = T(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(1024))
    y = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.lit(1023).cast("bigint"), F.floor(F.col("value")).cast("bigint")),
    )
    return hilbert_values(
        ev.select(
            F.col("event_id").cast("bigint"),
            x.alias("__x"),
            y.alias("__y"),
        ),
        F.col("__x"), F.col("__y"),
    ).select("event_id", "h")


def _x8_hilbert_oracle() -> str:
    from eco_pulse_lakehouse_spark.operators.layout import hilbert_sql

    return hilbert_sql(
        "(SELECT CAST(event_id AS BIGINT) AS event_id,"
        " (user_id % 1024) AS hx0,"
        " GREATEST(0, LEAST(1023, CAST(FLOOR(value) AS BIGINT))) AS hy0"
        " FROM events)",
        "event_id",
        "hx0",
        "hy0",
    )


ORACLES["x8_hilbert_values"] = _x8_hilbert_oracle()


@q(
    "a32_ams_f2",
    None,  # oracle generated below (identical 16 signed sums)
)
def a32_ams_f2(spark, sf_dir):
    """A-extra — AMS F2 / self-join-size sketch
    (operators/sketches.py:ams_f2_estimates; Alon-Matias-Szegedy
    1996): 16 ±1-signed counters over events.user_id in ONE narrow
    pass, est_f2 = sketch² — completing the frequency-moment trio
    next to F0 (a17 HLL rollup) and F∞ (a30 spacesaving). The sign
    family is the exact-integer affine-parity hash, so the entire
    sketch replays bit-for-bit in SQL; linearity (per-half sketches
    ADD to the full sketch) and estimate accuracy vs exact Σ f_k²
    are pinned in pytest."""
    from eco_pulse_lakehouse_spark.operators.sketches import (
        ams_f2_estimates,
    )

    ev = T(spark, sf_dir, "events")
    return ams_f2_estimates(ev, F.col("user_id"), n_sketches=16)


def _a32_oracle() -> str:
    from eco_pulse_lakehouse_spark.operators.sketches import (
        AMS_HASH_A,
        AMS_HASH_STEP,
    )
    from eco_pulse_lakehouse_spark.functions.text import TOKEN_HASH_MOD

    p = TOKEN_HASH_MOD
    sums = ", ".join(
        f"CAST(SUM(1 - 2 * (((h * {AMS_HASH_A + j * AMS_HASH_STEP})"
        f" % {p}) % 2)) AS BIGINT) AS s{j}"
        for j in range(16)
    )
    arms = " UNION ALL ".join(
        f"SELECT {j} AS j, s{j} AS sketch FROM agg" for j in range(16)
    )
    return f"""
    WITH base AS (SELECT (user_id % {p}) AS h FROM events),
    agg AS (SELECT {sums} FROM base)
    SELECT CAST(j AS INT) AS j, sketch,
           CAST(sketch * sketch AS BIGINT) AS est_f2
    FROM ({arms})
    """


ORACLES["a32_ams_f2"] = _a32_oracle()


@q(
    "a15_cube",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def a15_cube(spark, sf_dir):
    """A-extra — CUBE: all 2^k grouping-set combinations in one pass
    (Expand + single hash agg — k doubles the expand factor, not the
    number of jobs)."""
    o = T(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total"),
    )


@q(
    "j5_lateral_topk",
    """
    SELECT n.n_name, c.c_custkey, c.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey ASC
      LIMIT 2
    ) c
    """,
)
def j5_lateral_topk(spark, sf_dir):
    """J5 — correlated LATERAL subquery (top-2 customers per nation):
    Catalyst decorrelates the per-row LIMIT subquery into a ranking
    window over ONE join — no per-nation query execution. Same SQL
    runs verbatim on DuckDB."""
    from eco_pulse_lakehouse_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey ASC
          LIMIT 2
        ) c
        """
    )


def _pagerank_iter_ctes(iterations: int = 3) -> list[str]:
    """One chained CTE per PageRank iteration (identical fixed-point
    arithmetic to operators/components.py:pagerank) — shared by the
    g1 graph entry and the TextRank keyword entry, parameterized
    only by the upstream ``edges``/``nodes``/``deg``/``r0`` CTEs."""
    iters = []
    for k in range(1, iterations + 1):
        iters.append(f"""
    r{k} AS (
      SELECT n.id,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
               + CAST(0.85 AS DOUBLE)
                 * (CAST(COALESCE(s.in_fp, 0) AS DOUBLE) / 1e12) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS id,
               CAST(SUM(CAST(FLOOR(r.pr / d.out_deg * 1e12) AS BIGINT)) AS BIGINT)
                 AS in_fp
        FROM edges e JOIN r{k - 1} r ON e.src = r.id
                     JOIN deg d ON e.src = d.src
        GROUP BY e.dst
      ) s ON n.id = s.id)""")
    return iters


def _pagerank_oracle(iterations: int = 3) -> str:
    """Chained-CTE replay of operators/components.py:pagerank on the
    supplier<->part bipartite graph (one CTE per iteration; identical
    fixed-point arithmetic)."""
    iters = _pagerank_iter_ctes(iterations)
    return (
        """
    WITH pairs AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey + 1000000 AS p FROM lineitem
    ),
    edges AS (
      SELECT s AS src, p AS dst FROM pairs
      UNION
      SELECT p AS src, s AS dst FROM pairs
    ),
    nodes AS (SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
    r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM nodes),"""
        + ",".join(iters)
        + f"""
    SELECT CAST(id AS BIGINT) AS id, pr FROM r{iterations}
    """
    )


@q("g1_pagerank", _pagerank_oracle())
def g1_pagerank(spark, sf_dir):
    """G1 — fixed-iteration PageRank (operators/components.py:
    pagerank) over the supplier<->part co-occurrence graph from
    lineitem. Pure joins+aggregations (no GraphX); contributions
    quantized to a 1e-12 fixed-point grid so the order-sensitive sum
    is exact BIGINT arithmetic — ranks match the chained-CTE DuckDB
    oracle bit-for-bit after 3 iterations."""
    from eco_pulse_lakehouse_spark.operators.components import pagerank

    li = T(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_suppkey").alias("s"),
        (F.col("l_partkey") + F.lit(1000000)).alias("p"),
    ).distinct()
    edges = pairs.select(F.col("s").alias("src"), F.col("p").alias("dst")).unionByName(
        pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
    )
    return pagerank(edges, iterations=3).select(
        F.col("id").cast("bigint"), F.col("rank").alias("pr")
    )


def _textrank_oracle(iterations: int = 3) -> str:
    """TextRank = the g1 PageRank iteration CTEs (shared verbatim via
    _pagerank_iter_ctes) over the word co-occurrence graph."""
    iters = _pagerank_iter_ctes(iterations)
    from eco_pulse_lakehouse_spark.functions.text import STOPWORDS_SQL

    return (
        f"""
    WITH ts AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    tok AS (
      SELECT doc_id, i AS pos, ws[i] AS wd
      FROM ts, unnest(range(1, n + 1)) AS u(i)
      WHERE ws[i] NOT IN {STOPWORDS_SQL}
    ),
    led AS (
      SELECT doc_id, pos, wd,
             lead(pos, 1) OVER w AS p1, lead(wd, 1) OVER w AS w1,
             lead(pos, 2) OVER w AS p2, lead(wd, 2) OVER w AS w2
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    half AS (
      SELECT wd AS src, w1 AS dst FROM led
      WHERE p1 - pos <= 2 AND w1 <> wd
      UNION ALL
      SELECT wd AS src, w2 AS dst FROM led
      WHERE p2 - pos <= 2 AND w2 <> wd
    ),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM half
        UNION ALL SELECT dst AS src, src AS dst FROM half
      )
    ),
    nodes AS (SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
    r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM nodes),"""
        + ",".join(iters)
        + f"""
    SELECT id AS word, pr FROM r{iterations}
    ORDER BY pr DESC, word ASC LIMIT 20
    """
    )


@q("x4_textrank_keywords", _textrank_oracle())
def x4_textrank_keywords(spark, sf_dir):
    """X4 — TextRank keyword extraction
    (operators/retrieval.py:textrank_keywords; Mihalcea & Tarau
    2004): PageRank over the word co-occurrence graph (undirected
    edges between non-stopwords within 2 original positions), top-20
    by centrality — the graph counterpart to x4_rake_keyphrases'
    degree/freq statistics. Co-occurrence pairs via per-doc lead()
    windows (parallel across docs), edge list one distinct, ranking
    reuses components.py:pagerank verbatim (1e-12 fixed-point
    contributions, exact BIGINT sums) with the g1 iteration CTEs
    shared verbatim in the oracle."""
    from eco_pulse_lakehouse_spark.operators.retrieval import (
        textrank_keywords,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "text"
    )
    return textrank_keywords(
        d, "doc_id", "text", window=2, iterations=3, top_k=20
    )


@q(
    "s15_compaction",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS total
    FROM events GROUP BY event_type
    """,
)
def s15_compaction(spark, sf_dir):
    """S15 — small-file compaction (sources/batch_io.py:
    compact_files): 64 streaming-append-sized files rewritten to 4
    via staged directory swap; the aggregate over the compacted copy
    is unchanged. At 100 TB the scan's task count and listing
    pressure follow the FILE count, so this is the maintenance op
    that keeps read amplification flat."""
    from eco_pulse_lakehouse_spark.sources.batch_io import compact_files

    path = scratch("s15_compact")
    T(spark, sf_dir, "events").repartition(64).write.parquet(path)
    before, after = compact_files(spark, path, target_files=4)
    assert before >= 64 and after == 4
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total"),
        )
    )


@q(
    "m2_snapshot_diff",
    """
    WITH old_s AS (SELECT o_orderkey, o_totalprice FROM orders),
    new_s AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_totalprice FROM orders
      WHERE o_orderkey % 11 = 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  THEN 'update' END AS change_type,
           o.o_totalprice AS old_o_totalprice,
           n.o_totalprice AS new_o_totalprice
    FROM old_s o FULL OUTER JOIN new_s n USING (o_orderkey)
    WHERE (CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  THEN 'update' END) IS NOT NULL
    """,
)
def m2_snapshot_diff(spark, sf_dir):
    """M2 — snapshot-diff CDC (operators/merge.py:snapshot_diff):
    derive the insert/update/delete feed between two table versions
    with one key-partitioned full outer join — the CHANGE DATA FEED
    a Delta table would emit, reconstructed from plain snapshots.
    The 'new' snapshot deletes every 7th order, doubles the price of
    every 5th, and inserts shifted copies of every 11th. The doubled
    price is one IEEE multiply (row-level — exact cross-engine)."""
    from eco_pulse_lakehouse_spark.operators.merge import snapshot_diff

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    new = (
        o.filter(F.col("o_orderkey") % 7 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    return snapshot_diff(o, new, ["o_orderkey"])


@q(
    "m3_scd2",
    """
    WITH cur AS (
      SELECT c_custkey, c_acctbal AS val,
             TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM customer
    ), ch AS (
      SELECT o_custkey AS c_custkey, o_orderdate AS ts,
             MAX(o_totalprice) AS val
      FROM orders GROUP BY 1, 2
    ), ch2 AS (
      SELECT c_custkey, val, ts AS valid_from,
             lead(ts) OVER (PARTITION BY c_custkey ORDER BY ts)
               AS valid_to
      FROM ch
    ), fc AS (
      SELECT c_custkey, MIN(ts) AS new_from FROM ch GROUP BY 1
    )
    SELECT cur.c_custkey, cur.val, cur.valid_from,
           CASE WHEN cur.valid_to IS NULL AND fc.new_from IS NOT NULL
                THEN fc.new_from ELSE cur.valid_to END AS valid_to
    FROM cur LEFT JOIN fc USING (c_custkey)
    UNION ALL
    SELECT c_custkey, val, valid_from, valid_to FROM ch2
    """,
)
def m3_scd2(spark, sf_dir):
    """M3 — SCD type-2 history build (operators/merge.py:scd2_apply)
    with MULTIPLE changes per key in one batch: every customer's
    order history becomes chained dimension versions — each version
    closed by the next change's valid_from (lead window), the
    pre-existing current row closed at the earliest change, only the
    latest change left open. This is the multi-change case the
    round-2 ADVICE flagged; the oracle replays the full chain.
    Changes are pre-aggregated to one per (key, ts) — SCD2 is
    undefined under tied timestamps."""
    from eco_pulse_lakehouse_spark.operators.merge import scd2_apply

    c = T(spark, sf_dir, "customer")
    cur = c.select(
        "c_custkey",
        F.col("c_acctbal").alias("val"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    o = T(spark, sf_dir, "orders")
    ch = o.groupBy(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderdate").alias("ts"),
    ).agg(F.max("o_totalprice").alias("val"))
    return scd2_apply(cur, ch, ["c_custkey"], "ts")


@q(
    "q4_profile",
    """
    WITH w AS (
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nu_k,
             COUNT(DISTINCT o_orderkey) AS nd_k,
             CAST(MIN(o_orderkey) AS VARCHAR) AS mn_k,
             CAST(MAX(o_orderkey) AS VARCHAR) AS mx_k,
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nu_s,
             COUNT(DISTINCT o_orderstatus) AS nd_s,
             CAST(MIN(o_orderstatus) AS VARCHAR) AS mn_s,
             CAST(MAX(o_orderstatus) AS VARCHAR) AS mx_s,
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nu_p,
             COUNT(DISTINCT o_totalprice) AS nd_p,
             CAST(MIN(o_totalprice) AS VARCHAR) AS mn_p,
             CAST(MAX(o_totalprice) AS VARCHAR) AS mx_p
      FROM orders
    )
    SELECT 'o_orderkey' AS column, n_rows, nu_k AS n_nulls, nd_k AS n_distinct,
           mn_k AS min_str, mx_k AS max_str FROM w
    UNION ALL
    SELECT 'o_orderstatus', n_rows, nu_s, nd_s, mn_s, mx_s FROM w
    UNION ALL
    SELECT 'o_totalprice', n_rows, nu_p, nd_p, mn_p, mx_p FROM w
    """,
)
def q4_profile(spark, sf_dir):
    """Data quality — single-pass table profile (operators/quality.py:
    profile_table): per-column null count, exact distinct count and
    min/max, all folded into ONE aggregation job (no per-column
    scans — the one-pass property is the 100 TB feature). Float
    min/max stringify identically across engines because Spark's
    double->string uses the shortest-roundtrip form DuckDB also
    emits for these values."""
    from eco_pulse_lakehouse_spark.operators.quality import profile_table

    o = T(spark, sf_dir, "orders")
    return profile_table(o, ["o_orderkey", "o_orderstatus", "o_totalprice"])


# --- graph: triangle counting --------------------------------------------


@q(
    "g2_triangles",
    """
    WITH e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM e0 e1
      JOIN e0 e2 ON e1.v = e2.u
      JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST(id AS BIGINT) AS id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT x AS id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    GROUP BY id
    """,
)
def g2_triangles(spark, sf_dir):
    """G2 — per-vertex triangle counts on the part co-purchase graph
    (parts sharing an order), degree-ordered compact-forward
    enumeration (operators/components.py:triangle_counts): wedge
    fan-out bounded by O(√|E|) out-degree, closure probed with a
    hash equi-join on the canonical (lo, hi) edge. The oracle
    enumerates x<y<z directly — same triangle set, any orientation."""
    from eco_pulse_lakehouse_spark.operators.components import (
        triangle_counts,
    )

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("id_a")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("id_b")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return triangle_counts(pairs)


@q(
    "w26_rolling_median",
    """
    WITH e AS (
      SELECT user_id, event_id, value, ts
      FROM events WHERE value IS NOT NULL
    ),
    f AS (
      SELECT user_id, event_id, value,
             list_sort(list(CAST(value AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) AS w
      FROM e
    )
    SELECT user_id, event_id, value,
           w[CAST(floor((len(w) + 1) / 2) AS INT)] AS rolling_median
    FROM f
    """,
)
def w26_rolling_median(spark, sf_dir):
    """W26 — exact rolling LOWER-median over the last 8 readings per
    user (operators/windows.py:rolling_median): the robust smoother
    beside w3's rolling mean. Lower median = an element of the data,
    no interpolation ⇒ oracle-exact in any engine (the a27/a31
    selection discipline). NULL values filtered on BOTH sides
    (Spark collect_list skips NULLs, DuckDB list() keeps them)."""
    from eco_pulse_lakehouse_spark.operators.windows import (
        rolling_median,
    )

    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return rolling_median(ev, "user_id", "ts", "event_id", "value", 8)


_G3_SQL = """
    WITH RECURSIVE edges AS (
      SELECT DISTINCT user_id % 50 AS src,
             (user_id * 7 + 3) % 50 AS dst
      FROM events
    ),
    reach(node, hops) AS (
      SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hops
      UNION ALL
      SELECT e.dst, r.hops + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hops < 10
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops
    FROM reach GROUP BY node
"""


@q("g3_recursive_bfs", _G3_SQL)
def g3_recursive_bfs(spark, sf_dir):
    """G3 — WITH RECURSIVE in Spark SQL (new in Spark 4.1): min-hop
    BFS from node 0 over a deterministic 50-node functional graph
    derived from events. The SAME recursive CTE text runs in both
    engines — until 4.1 the engine expressed iterative graph work
    only through driver-side loops (components.py's label
    propagation) while the ORACLES used DuckDB recursion; this entry
    certifies the in-engine recursion surface itself. Depth-bounded
    (hops < 10) so the recursion terminates identically everywhere.
    Scale note: each recursion step is a planned join — fine for
    bounded-depth hierarchy/reachability walks; unbounded-diameter
    components stay on the label-propagation operator."""
    from eco_pulse_lakehouse_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_G3_SQL)


@q(
    "f_param_sql",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    WHERE o_totalprice >= 100000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def f_param_sql(spark, sf_dir):
    """F — parameterized SQL (named-binding ``spark.sql(query,
    args=...)``): the injection-safe form of dynamic SQL a query
    service uses. Parameters bind as typed literals in the plan
    (constant-folded like inline literals — same physical plan), so
    the oracle is the inlined query."""
    from eco_pulse_lakehouse_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        WHERE o_totalprice >= :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 100000.0, "status": "F"},
    )


# --- time series: gap fill + forward fill ---------------------------------


@q(
    "w11_gap_fill",
    """
    WITH pd AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS v
      FROM events WHERE user_id < 30 GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM pd GROUP BY 1
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      FROM bounds
    )
    SELECT CAST(g.user_id AS BIGINT) AS user_id, g.day,
           pd.v IS NOT NULL AS observed,
           last_value(pd.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM grid g
    LEFT JOIN pd ON g.user_id = pd.user_id AND g.day = pd.day
    """,
)
def w11_gap_fill(spark, sf_dir):
    """W11 — dense per-(user, day) series with forward fill
    (operators/timeseries.py:gap_fill_daily): grid generated
    map-side from per-key bounds via sequence+explode, one left
    equi-join onto pre-aggregated observations, one window per key
    for the carry-forward. Daily sums use decimal accumulation so
    the fill values match the oracle bit-for-bit."""
    from eco_pulse_lakehouse_spark.operators.timeseries import (
        gap_fill_daily,
    )

    ev = T(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    agg = F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
    return gap_fill_daily(ev, "user_id", "ts", agg)


# --- interval overlap join ------------------------------------------------


@q(
    "j6_interval_join",
    """
    WITH l AS (
      SELECT event_id AS signup_id, ts AS ls,
             ts + INTERVAL 2 MINUTE AS le
      FROM events WHERE event_type = 'signup'
    ), r AS (
      SELECT event_id AS error_id, ts AS rs,
             ts + INTERVAL 10 MINUTE AS re
      FROM events WHERE event_type = 'error'
    )
    SELECT CAST(signup_id AS BIGINT) AS signup_id,
           CAST(error_id AS BIGINT) AS error_id
    FROM l, r WHERE ls < re AND rs < le
    """,
)
def j6_interval_join(spark, sf_dir):
    """J6 — interval overlap join (signup activity windows ×
    error incident windows) via time-grid bucketing
    (operators/joins.py:interval_overlap_join): each interval
    explodes to the 10-minute cells it touches, the join is a hash
    equi-join on the cell, and exactly one cell (the one holding the
    overlap's start) claims each pair. The oracle is the naive theta
    join — same pairs, nested-loop plan."""
    ev = T(spark, sf_dir, "events")
    l = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("ls"),
        (F.col("ts") + F.expr("INTERVAL 2 MINUTE")).alias("le"),
    )
    r = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("rs"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTE")).alias("re"),
    )
    return oj.interval_overlap_join(
        l, r, "ls", "le", "rs", "re", bucket_seconds=600
    ).select("signup_id", "error_id")


@q(
    "j7_bloom_join",
    """
    SELECT o_orderkey, o_totalprice, c_custkey, c_acctbal
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def j7_bloom_join(spark, sf_dir):
    """J7 — Bloom-prefiltered equi-join
    (operators/joins.py:bloom_join): the BUILDING-segment customer
    dim is hashed into a 16 KB bitmap (3×xxhash64, bit_or-packed
    words, plan-literal map) that prunes non-matching orders BEFORE
    the join shuffle — the shuffle-reduction move for a selective dim
    too large to broadcast as rows. No false negatives, so the result
    is EXACTLY the plain inner join the oracle runs; false positives
    only ride the shuffle and die in the join."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = T(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey", "c_acctbal")
    return oj.bloom_join(o, c, "o_custkey", "c_custkey").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_acctbal"
    )


# --- product analytics: funnel + retention --------------------------------


@q(
    "w12_funnel",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
      WHERE e.event_type = 'click' GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT CAST(s1.user_id AS BIGINT) AS user_id, t1, t2, t3,
           CAST(1 + CAST(t2 IS NOT NULL AS INT)
                  + CAST(t3 IS NOT NULL AS INT) AS BIGINT)
             AS steps_completed
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def w12_funnel(spark, sf_dir):
    """W12 — ordered funnel (signup → later click → later purchase)
    per user: each stage is MIN(ts) of the step event STRICTLY after
    the previous stage's timestamp — three aggregations chained by
    equi-joins on user_id (never a per-user sort of all events; each
    stage shuffles one short row per qualifying user)."""
    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def stage(step, prev, t_prev, t_name):
        e = ev.filter(F.col("event_type") == step)
        return (
            e.join(prev, "user_id")
            .filter(F.col("ts") > F.col(t_prev))
            .groupBy("user_id")
            .agg(F.min("ts").alias(t_name))
        )

    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = stage("click", s1, "t1", "t2")
    s3 = stage("purchase", s2, "t2", "t3")
    done = (
        F.lit(1)
        + F.col("t2").isNotNull().cast("int")
        + F.col("t3").isNotNull().cast("int")
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            F.col("user_id").cast("bigint"),
            "t1",
            "t2",
            "t3",
            done.cast("bigint").alias("steps_completed"),
        )
    )


@q(
    "w14_ewma",
    """
    WITH a AS (
      SELECT event_id, user_id,
             array_agg(CAST(value AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
      FROM events
    )
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           list_reduce(arr, (acc, x) -> acc * CAST(0.5 AS DOUBLE) + x)
             AS ewma
    FROM a
    """,
)
def w14_ewma(spark, sf_dir):
    """W14 — exponentially-weighted moving value over the last 8
    readings per user (Horner fold: acc·½ + x along the frame).
    α = ½ keeps every multiply an EXACT halving (power-of-two
    scaling), so the only rounding is the adds — and both engines run
    the identical left-to-right fold over the identically-ordered
    frame array (seed = first element, matching DuckDB list_reduce),
    giving bit-exact parity with NO rounding normalization — the only
    float-recursive window in the corpus that can claim that.
    One window shuffle; the HOF fold is interpreted (8 elements/row —
    constant), the frame bounds the state like any ROWS window."""
    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-7, 0)
    )
    arr = F.collect_list(F.col("value").cast("double")).over(w)
    ewma = F.aggregate(
        F.slice(arr, F.lit(2), F.size(arr) - 1),
        F.element_at(arr, 1),
        lambda acc, x: acc * F.lit(0.5) + x,
    )
    return ev.select(
        F.col("event_id").cast("bigint"),
        F.col("user_id").cast("bigint"),
        ewma.alias("ewma"),
    )


@q(
    "q6_seasonal_deviants",
    """
    WITH q AS (
      SELECT event_id, hour(ts) AS hr,
             CAST(floor(value * 1000) AS BIGINT) AS v_fp, value
      FROM events
    ), st AS (
      SELECT hr, CAST(SUM(v_fp) AS BIGINT) AS s, COUNT(*) AS n
      FROM q GROUP BY hr
    )
    SELECT hr, event_id, value, resid_fp, rk FROM (
      SELECT q.hr, q.event_id, q.value,
             CAST(q.v_fp * st.n - st.s AS BIGINT) AS resid_fp,
             CAST(row_number() OVER (
               PARTITION BY q.hr
               ORDER BY abs(q.v_fp * st.n - st.s) DESC, q.event_id ASC
             ) AS BIGINT) AS rk
      FROM q JOIN st USING (hr)
    ) WHERE rk <= 3
    """,
)
def q6_seasonal_deviants(spark, sf_dir):
    """Q6 — top-3 deviations from the hour-of-day seasonal baseline
    (operators/anomaly.py:seasonal_topk_deviants): residuals compared
    as v·n − Σv over 1e-3 fixed-point BIGINTs — no division, no
    stddev, exact integer ordering (q2's z-score rounds through
    doubles). 24-row seasonal table broadcasts; one sum shuffle, one
    per-bucket ranking window."""
    from eco_pulse_lakehouse_spark.operators.anomaly import (
        seasonal_topk_deviants,
    )

    ev = T(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint"), "ts", "value"
    )
    return seasonal_topk_deviants(ev, "ts", "event_id", "value", k=3)


@q(
    "a18_equidepth_hist",
    """
    WITH r AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey)
               AS rn,
             COUNT(*) OVER () AS n
      FROM orders
    )
    SELECT CAST(((rn - 1) * 8) // n + 1 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM r GROUP BY 1
    """,
)
def a18_equidepth_hist(spark, sf_dir):
    """A18 — EQUI-DEPTH histogram (quantile buckets: every bucket
    holds ≈n/8 rows; a14 is the equi-WIDTH twin). Built by composing
    the distributed global rank (operators/rank.py:global_row_number
    — range partition + per-partition offsets, no single-reducer
    window) with integer bucket assignment ((rn−1)·8 div n) — exact,
    total-order equi-depth with no SinglePartition stage, unlike the
    textbook ntile() which serializes the table through one window
    task. The total count is one O(1)-result action (the same
    O(partitions) metadata pass the rank itself makes)."""
    from eco_pulse_lakehouse_spark.operators.rank import global_row_number

    o = T(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    n = o.count()
    ranked = global_row_number(
        o,
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        out_col="rn",
    )
    return (
        ranked.withColumn(
            "bucket", F.expr(f"((rn - 1) * 8) div {n} + 1").cast("bigint")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@q(
    "w13_journey_pattern",
    """
    WITH j AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS journey
      FROM events GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, journey,
           CAST(length(journey) AS BIGINT) AS journey_len,
           CAST(len(regexp_extract_all(journey, 's[^p]*p')) AS BIGINT)
             AS n_funnel_runs,
           CAST(strpos(journey, 'p') AS BIGINT) AS first_purchase_pos,
           CAST(length(journey) - length(replace(journey, 'p', ''))
                AS BIGINT) AS n_purchases
    FROM j
    """,
)
def w13_journey_pattern(spark, sf_dir):
    """W13 — event-sequence pattern matching (MATCH_RECOGNIZE-lite):
    compress each user's ordered event stream into a journey string
    (one char per event — type initials are unique: s/e/c/v/p) and
    pattern-match with regexes: non-overlapping signup→…→purchase
    runs via regexp_count, first-conversion position, purchase count.

    The journey build is ONE groupBy shuffle carrying (ts, event_id,
    char) structs — array_sort on the struct gives the deterministic
    (ts, event_id) order without a sort-within-partitions pass; the
    regex scan is per-row JVM. At 100 TB the journey string is
    bounded by per-user event count — pair with a time window (as
    w7's sessionize does) for unbounded histories."""
    ev = T(spark, sf_dir, "events")
    journey = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "ts",
                        "event_id",
                        F.substring("event_type", 1, 1).alias("c"),
                    )
                )
            ),
            lambda s: s.getField("c"),
        ),
        "",
    )
    return (
        ev.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(journey.alias("journey"))
        .select(
            "user_id",
            "journey",
            F.length("journey").cast("bigint").alias("journey_len"),
            F.regexp_count(F.col("journey"), F.lit("s[^p]*p"))
            .cast("bigint")
            .alias("n_funnel_runs"),
            F.instr(F.col("journey"), "p").cast("bigint").alias(
                "first_purchase_pos"
            ),
            (
                F.length("journey")
                - F.length(F.replace(F.col("journey"), F.lit("p"), F.lit("")))
            )
            .cast("bigint")
            .alias("n_purchases"),
        )
    )


@q(
    "f_pipe_syntax",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
             AS total_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag
    """,
)
def f_pipe_syntax(spark, sf_dir):
    """F — SQL PIPE syntax (Spark 4 `|>` operators): the same scan →
    filter → aggregate plan written as a left-to-right pipeline.
    Catalyst parses pipes into the identical logical plan as the
    classic form, so the oracle is the classic SQL — this entry
    certifies the SYNTAX surface (the one modern-SQL API row not yet
    covered), with decimal-exact aggregation as everywhere."""
    from eco_pulse_lakehouse_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |> AGGREGATE COUNT(*) AS n,
                     CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_qty
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n, total_qty
        """
    )


@q(
    "u3_python_udtf",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents)
    SELECT doc_id, CAST(i AS INT) AS pos,
           array_to_string(w[i:i+2], ' ') AS ngram
    FROM t, unnest(range(1, len(w) - 1)) AS u(i)
    """,
)
def u3_python_udtf(spark, sf_dir):
    """§2.10 — Python UDTF (Spark 4 table function,
    operators/pandas_ops.py:word_ngrams_udtf): LATERAL-joined word
    trigrams per document. Certifies the remaining Python-boundary
    API (pandas_udf=u2, applyInPandas=u1, mapInPandas=x5,
    data source=s14, UDTF=here); the HOF transform/explode form
    stays the hot path for real n-gram work."""
    from eco_pulse_lakehouse_spark.operators.pandas_ops import (
        word_ngrams_udtf,
    )

    from eco_pulse_lakehouse_spark.catalog import register_views

    register_views(spark, sf_dir)
    spark.udtf.register("word_ngrams", word_ngrams_udtf())
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.ngram
        FROM documents d, LATERAL word_ngrams(d.text, 3) t
        """
    )


@q(
    "w27_match_alternation",
    """
    WITH f AS (
      SELECT user_id, ts, event_id, substring(event_type, 1, 1) AS c,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                 - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id)
               <= 43200 THEN 0 ELSE 1 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts, event_id, c,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS session_id
      FROM f
    ),
    j AS (
      SELECT user_id, session_id,
             string_agg(c, '' ORDER BY ts, event_id) AS journey
      FROM s GROUP BY user_id, session_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, session_id, journey,
           CAST(len(regexp_extract_all(journey, 's(?:cv|vc)+p'))
             AS BIGINT) AS n_alt,
           CAST(coalesce(list_sum(list_transform(
                  regexp_extract_all(journey, 's(?:cv|vc)+p'),
                  x -> length(x))), 0) AS BIGINT) AS chars_alt,
           CAST(len(regexp_extract_all(journey, 's[cvp]+?p'))
             AS BIGINT) AS n_rel,
           CAST(coalesce(list_sum(list_transform(
                  regexp_extract_all(journey, 's[cvp]+?p'),
                  x -> length(x))), 0) AS BIGINT) AS chars_rel,
           CAST(len(regexp_extract_all(journey, 's[cvp]+p'))
             AS BIGINT) AS n_grd,
           CAST(coalesce(list_sum(list_transform(
                  regexp_extract_all(journey, 's[cvp]+p'),
                  x -> length(x))), 0) AS BIGINT) AS chars_grd
    FROM j
    """,
)
def w27_match_alternation(spark, sf_dir):
    """W27 — MATCH_RECOGNIZE alternation + reluctant quantifiers on
    the w24 substrate (operators/patterns.py:
    sessionized_multi_pattern_matches): three patterns over ONE
    session/journey pass — PATTERN (A (B|C)+ D) as sequence
    alternation ``s(?:cv|vc)+p`` (alternating click-view units, NOT
    the w24 character class), reluctant ``s[cvp]+?p`` (shortest
    expansion — stops at the FIRST purchase), and its greedy twin
    ``s[cvp]+p`` (swallows intermediate purchases) so the
    greedy-vs-reluctant contrast is visible in the data
    (chars_rel <= chars_grd, strict on multi-purchase sessions).
    Adding patterns adds projections, not exchanges. Oracle: the
    same lag/cumsum + ordered string_agg replay with the identical
    regexes (java.util.regex and RE2 agree on leftmost-first
    non-greedy scans — verified case-by-case in round 5)."""
    from eco_pulse_lakehouse_spark.operators.patterns import (
        sessionized_multi_pattern_matches,
    )

    ev = T(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts",
        "event_id",
        "event_type",
    )
    return sessionized_multi_pattern_matches(
        ev,
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1),
        {
            "alt": "s(?:cv|vc)+p",
            "rel": "s[cvp]+?p",
            "grd": "s[cvp]+p",
        },
        gap_seconds=12 * 3600,
    )


@q(
    "w24_match_recognize",
    """
    WITH f AS (
      SELECT user_id, ts, event_id, substring(event_type, 1, 1) AS c,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                 - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id)
               <= 43200 THEN 0 ELSE 1 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts, event_id, c,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS session_id
      FROM f
    ),
    j AS (
      SELECT user_id, session_id,
             string_agg(c, '' ORDER BY ts, event_id) AS journey
      FROM s GROUP BY user_id, session_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, session_id, journey,
           CAST(len(regexp_extract_all(journey, 's[cv]+p')) AS BIGINT)
             AS n_matches,
           CASE WHEN len(regexp_extract_all(journey, 's[cv]+p')) = 0
                THEN CAST(0 AS BIGINT)
                ELSE CAST(strpos(journey,
                       regexp_extract(journey, 's[cv]+p')) AS BIGINT) END
             AS first_match_pos,
           CAST(coalesce(list_sum(list_transform(
                  regexp_extract_all(journey, 's[cv]+p'),
                  x -> length(x))), 0) AS BIGINT) AS matched_chars
    FROM j
    """,
)
def w24_match_recognize(spark, sf_dir):
    """W24 — quantified sequence pattern WITHIN sessions
    (operators/patterns.py:sessionized_pattern_matches): the proper
    MATCH_RECOGNIZE shape w13's run-counting doesn't cover —
    PATTERN (A B+ C) with A=signup, B=click|view (one-or-more),
    C=purchase, contiguous rows, greedy quantifier, AFTER MATCH SKIP
    PAST LAST ROW, and the whole match confined to one 12-hour-gap
    session (the w7 sessionize substrate with a wider gap: a 30-min
    gap at sf0.01 leaves ~1-event sessions and zero matches — a
    vacuous parity row — while 12 h yields thousands of multi-event
    sessions and >100 matches). An intervening 'e'rror event
    breaks the match exactly as row-contiguity demands. Sessionize
    window + per-session journey fold + regex scan = ONE exchange
    (both cluster on user_id); matched_chars exercises the HOF fold
    over regexp_extract_all. Oracle replays the identical lag/cumsum
    + ordered string_agg + RE2 scan (first_match_pos via strpos of
    the leftmost extract — any earlier occurrence of that substring
    would itself have been the leftmost match, so the positions
    coincide)."""
    from eco_pulse_lakehouse_spark.operators.patterns import (
        sessionized_pattern_matches,
    )

    ev = T(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts",
        "event_id",
        "event_type",
    )
    return sessionized_pattern_matches(
        ev,
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1),
        "s[cv]+p",
        gap_seconds=12 * 3600,
    )


@q(
    "a16_retention",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS cohort
      FROM events GROUP BY 1
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    )
    SELECT cohort,
           CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity JOIN first_seen USING (user_id)
    GROUP BY 1, 2
    """,
)
def a16_retention(spark, sf_dir):
    """A16 — cohort retention: users grouped by first-seen day, count
    of distinct users active at each day offset. Two aggregations
    (first-seen per user; distinct active days per user) joined on
    user_id — the activity side is pre-distinct'd so the join carries
    one row per (user, day), not per event."""
    ev = T(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("cohort"))
    activity = ev.distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy("cohort", F.datediff("day", "cohort").cast("bigint").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@q(
    "q5_expectations",
    """
    WITH agg AS (
      SELECT COUNT(*) AS n_rows,
        CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                 THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice < 600000, FALSE)
                 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('F','O','P'), FALSE)
                 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        CAST(SUM(CASE WHEN NOT COALESCE(
                 o_orderdate >= TIMESTAMP '1992-01-01', FALSE)
                 THEN 1 ELSE 0 END) AS BIGINT) AS v4
      FROM orders
    )
    SELECT r.rule, r.n_violations, agg.n_rows,
           r.n_violations = 0 AS passed
    FROM agg, LATERAL (VALUES
      ('price_positive', v0), ('price_below_cap', v1),
      ('status_domain', v2), ('custkey_present', v3),
      ('orderdate_in_range', v4)) AS r(rule, n_violations)
    """,
)
def q5_expectations(spark, sf_dir):
    """Q5 — table-level expectation report
    (operators/quality.py:expectation_report): five declared rules
    over orders checked in ONE conditional-aggregation pass, then the
    single wide row unpivoted into a per-rule report. The stage gate
    a pipeline asserts before publishing a table."""
    from eco_pulse_lakehouse_spark.operators.quality import (
        expectation_report,
    )

    o = T(spark, sf_dir, "orders")
    rules = {
        "price_positive": F.col("o_totalprice") > 0,
        "price_below_cap": F.col("o_totalprice") < 600000,
        "status_domain": F.col("o_orderstatus").isin("F", "O", "P"),
        "custkey_present": F.col("o_custkey").isNotNull(),
        "orderdate_in_range": F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"),
    }
    return expectation_report(o, rules)


# --- forward as-of join ---------------------------------------------------


@q(
    "j4_asof_forward",
    """
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r.value AS next_value, r.ts AS next_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
)
def j4_asof_forward(spark, sf_dir):
    """J4 — FORWARD as-of join (operators/joins.py:asof_join,
    direction='forward'): for each error event, the EARLIEST purchase
    of the same user at or after it — the same union-tag single
    window sweep as backward, run over descending time order. Oracle
    is DuckDB's native forward ASOF (l.ts <= r.ts)."""
    ev = T(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ts_r"),
        F.col("value").alias("next_value"),
    )
    joined = oj.asof_join(
        left,
        right,
        on="user_id",
        left_ts="ts",
        right_ts="ts_r",
        right_vals=["next_value", "ts_r"],
        direction="forward",
    )
    return joined.select(
        "event_id", "user_id", "ts", "value",
        "next_value", F.col("ts_r").alias("next_ts"),
    )


# --- weighted sampling ----------------------------------------------------


@q(
    "x6_priority_sample",
    """
    SELECT * FROM (
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice,
             (CAST((o_orderkey * 2654435761) % 4294967296 AS DOUBLE)
               / 4294967296.0) / o_totalprice AS priority
      FROM orders
    ) ORDER BY priority ASC, o_orderkey ASC LIMIT 100
    """,
)
def x6_priority_sample(spark, sf_dir):
    """X6 — weight-proportional sampling without replacement
    (operators/sampling.py:priority_sample): priority-sampling keys
    u/w (one reproducible IEEE division — deliberately NOT the
    u^(1/w) exponential-keys scheme, whose pow() is 1-ulp unstable
    across engines), k smallest win via TakeOrderedAndProject.
    Heavier orders are proportionally likelier to be kept; the
    selection is bit-identical under any partitioning."""
    from eco_pulse_lakehouse_spark.operators.sampling import (
        priority_sample,
    )

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint"), "o_totalprice"
    )
    return priority_sample(o, "o_orderkey", "o_totalprice", k=100)


# --- mergeable distinct-count sketches ------------------------------------


@q("a17_hll_mergeable")  # sketch estimate: rows-only; merge ≡ direct pinned in pytest
def a17_hll_mergeable(spark, sf_dir):
    """A17 — INCREMENTAL COUNT DISTINCT via mergeable HLL sketches
    (Spark 4 DataSketches surface): build one sketch per day
    (`hll_sketch_agg`), then merge the daily sketches
    (`hll_union_agg`) into the monthly distinct-user estimate.

    The maintenance pattern a 100 TB pipeline needs: daily partitions
    are sketched ONCE at ingest (each sketch is a few KB), and any
    rollup window is a cheap sketch union — no re-scan of history,
    unlike exact COUNT DISTINCT whose expand+reshuffle must revisit
    every row. Merge-then-estimate equals sketch-then-estimate
    exactly (same deterministic sketch algorithm — pinned in
    tests), so incremental rollups never drift from a direct
    computation."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
    )
    return daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
        .alias("distinct_users_est"),
        F.count(F.lit(1)).alias("n_daily_sketches"),
    )


@q(
    "a19_countmin",
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    hh AS (
      SELECT w, list_reduce(list_concat([CAST(0 AS BIGINT)],
               list_transform(range(1, len(w)+1),
                              i -> CAST(ascii(w[i]) AS BIGINT))),
               (h, c) -> (h * 131 + c) % 1000003) AS h
      FROM (SELECT DISTINCT w FROM tok)
    ),
    ds AS (SELECT CAST(d AS INT) AS d FROM range(4) t(d)),
    sketch AS (
      SELECT d,
             CAST((h * (2654435761 + d * 40503)) % 1000003 % 64 AS INT) AS bucket,
             count(*) AS c
      FROM (SELECT t.w, h FROM tok t JOIN hh USING (w)) CROSS JOIN ds
      GROUP BY 1, 2
    ),
    vocab AS (SELECT w, count(*) AS exact_count FROM tok GROUP BY w),
    probes AS (
      SELECT v.w, exact_count, ds.d,
             CAST((h * (2654435761 + ds.d * 40503)) % 1000003 % 64 AS INT)
               AS bucket
      FROM vocab v JOIN hh USING (w) CROSS JOIN ds
    )
    SELECT w, exact_count, CAST(min(coalesce(c, 0)) AS BIGINT) AS est_count
    FROM probes LEFT JOIN sketch USING (d, bucket)
    GROUP BY w, exact_count
    """,
)
def a19_countmin(spark, sf_dir):
    """A19 — Count-Min frequency sketch (operators/sketches.py):
    build a 4x64 counter table over the document token stream (one
    narrow pass; the groupBy collapses to <=256 cells map-side),
    then point-query every vocabulary token against it next to the
    exact count. est >= exact always (min of depth buckets never
    undercounts); collisions at width 64 make real overcounts the
    oracle must reproduce. All-integer char-polynomial + Knuth
    multiplicative hashing => the entire sketch replays exactly in
    SQL — a sketch family with a hard oracle, like a17's HLL has
    only a rows-only check. Mergeability (union+sum == direct) is
    pinned in pytest."""
    from eco_pulse_lakehouse_spark.functions.text import tokens
    from eco_pulse_lakehouse_spark.operators import sketches as sk

    d = T(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("w"))
    sketch = sk.cms_build(tok, "w", depth=4, width=64)
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("exact_count"))
    return sk.cms_estimate(sketch, vocab, "w", depth=4, width=64)


@q(
    "a29_heavy_hitters",
    """
    WITH d AS (SELECT string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT t[i] || ' ' || t[i + 1] AS bigram
      FROM d, unnest(range(1, len(t))) AS u(i)
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram HAVING COUNT(*) >= 40
    """,
)
def a29_heavy_hitters(spark, sf_dir):
    """A29 — EXACT heavy hitters over the document BIGRAM stream via
    the Count-Min candidate prefilter
    (operators/sketches.py:frequent_items): pass 1 sketches the
    bigram frequencies into a 4x4096 counter table (constant-size
    shuffle); pass 2 estimates each row's own bigram map-side
    against the broadcast sketch (codegen element_at lookups — the
    space-saving/top-k scale shape) and only candidate bigrams enter
    the groupBy exchange, where the exact recount + HAVING removes
    collision false-positives. CMS never undercounts, so no true
    heavy hitter is lost — the output is IDENTICAL to the direct
    GROUP BY/HAVING, which is exactly what the oracle runs (a sketch
    whose output needs no sketch replay in SQL). The case that
    matters at 100 TB: n-gram vocabularies explode combinatorially
    while heavy hitters stay few, so shuffling |candidates| instead
    of |vocabulary| is the difference between a constant-ish
    exchange and one that scales with the n-gram blowup."""
    from eco_pulse_lakehouse_spark.operators.sketches import frequent_items

    d = T(spark, sf_dir, "documents")
    bg = d.select(
        F.explode(
            F.expr(
                "transform(slice(split(text, ' '), 1,"
                " size(split(text, ' ')) - 1),"
                " (x, i) -> concat(x, ' ', split(text, ' ')[i + 1]))"
            )
        ).alias("bigram")
    )
    return frequent_items(bg, "bigram", min_count=40, depth=4, width=1 << 12)


@q(
    "a30_spacesaving",
    """
    WITH d AS (SELECT string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT t[i] || ' ' || t[i + 1] AS bigram
      FROM d, unnest(range(1, len(t))) AS u(i)
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram ASC LIMIT 20
    """,
)
def a30_spacesaving(spark, sf_dir):
    """A30 — EXACT top-20 bigrams via mergeable SPACE-SAVING
    summaries (operators/sketches.py:spacesaving_topk; Metwally et
    al. 2005 / Agarwal et al. 2012 mergeable-summaries): the stream
    shards into 8 deterministic units (doc_id mod 8), each unit
    summarizes to its top-600 with a truncation threshold, the
    summaries merge ORDER-INSENSITIVELY into per-key (lower, upper)
    count bounds (pure commutative sums — pinned by a permuted-merge
    pytest), candidates below the k-th lower bound are pruned, and
    an exact recount of the survivors yields the top-k — IDENTICAL
    to the direct GROUP BY/ORDER BY/LIMIT the oracle runs. strict
    mode ASSERTS the exactness certificate L_k > T_total in-plan
    (per_unit_k=600 satisfies it at every test sf while truncation
    genuinely occurs, T_total 16–287). The 100 TB shape: the final
    exchange sees O(k · #units) candidate keys, not the n-gram
    vocabulary — the same candidates-only-shuffle contract as
    a29_heavy_hitters, answering top-k instead of threshold."""
    from eco_pulse_lakehouse_spark.operators.sketches import (
        spacesaving_topk,
    )

    d = T(spark, sf_dir, "documents")
    bg = d.select(
        F.pmod(F.col("doc_id"), F.lit(8)).alias("unit"),
        F.explode(
            F.expr(
                "transform(slice(split(text, ' '), 1,"
                " size(split(text, ' ')) - 1),"
                " (x, i) -> concat(x, ' ', split(text, ' ')[i + 1]))"
            )
        ).alias("bigram"),
    )
    return spacesaving_topk(
        bg, "bigram", "unit", k=20, per_unit_k=600
    )


@q(
    "w15_sax_words",
    """
    WITH s AS (
      SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS v
      FROM events GROUP BY user_id
    ),
    wins AS (
      SELECT user_id, CAST(1 + 8 * j AS INT) AS win_start,
             list_slice(v, 1 + 8 * j, 16 + 8 * j) AS w
      FROM (
        SELECT user_id, v,
               unnest(range(0, GREATEST(CAST(0 AS BIGINT),
                                        (len(v) - 16) // 8 + 1))) AS j
        FROM s
      )
    ),
    stats AS (
      SELECT user_id, win_start, w, list_sum(w) / 16.0 AS mu FROM wins
    ),
    stats2 AS (
      SELECT user_id, win_start, w, mu,
             sqrt(list_sum(list_transform(w, x -> (x - mu) * (x - mu))) / 16.0)
               AS sigma
      FROM stats
    )
    SELECT user_id, win_start,
           array_to_string(list_transform(range(0, 4), g ->
             CASE WHEN (list_sum(list_slice(w, g*4+1, g*4+4)) / 4.0 - mu)
                       < -0.6745 * sigma THEN 'a'
                  WHEN (list_sum(list_slice(w, g*4+1, g*4+4)) / 4.0 - mu)
                       < 0.0 * sigma THEN 'b'
                  WHEN (list_sum(list_slice(w, g*4+1, g*4+4)) / 4.0 - mu)
                       < 0.6745 * sigma THEN 'c'
                  ELSE 'd' END), '') AS sax_word
    FROM stats2
    """,
)
def w15_sax_words(spark, sf_dir):
    """W15 — SAX time-series symbolization (operators/timeseries.py:
    sax_words): per-user value series → sliding 16-point windows
    (stride 8) → z-normalized 4-segment PAA → 4-letter words over
    N(0,1) breakpoints. Same-word windows are similarity candidates
    (the time-series LSH bucket — motif search becomes an equi-join
    on the word + exact refine, never all-pairs). Sequential double
    folds + correctly-rounded sqrt + multiply-side breakpoint
    comparisons keep the whole symbolization oracle-EXACT."""
    from eco_pulse_lakehouse_spark.operators.timeseries import sax_words

    ev = T(spark, sf_dir, "events")
    return sax_words(
        ev, "user_id", ("ts", "event_id"), "value",
        window_len=16, stride=8, paa_segments=4,
    )


@q(
    "w16_sax_motif_pairs",
    """
    WITH s AS (
      SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS v
      FROM events GROUP BY user_id
    ),
    wins AS (
      SELECT user_id, CAST(1 + 8 * j AS INT) AS win_start,
             list_slice(v, 1 + 8 * j, 16 + 8 * j) AS w
      FROM (
        SELECT user_id, v,
               unnest(range(0, GREATEST(CAST(0 AS BIGINT),
                                        (len(v) - 16) // 8 + 1))) AS j
        FROM s
      )
    ),
    stats AS (SELECT user_id, win_start, w, list_sum(w) / 16.0 AS mu FROM wins),
    stats2 AS (
      SELECT *, sqrt(list_sum(list_transform(w, x -> (x - mu) * (x - mu)))
                     / 16.0) AS sigma
      FROM stats
    ),
    sym AS (
      SELECT user_id, win_start, w, mu, sigma,
             array_to_string(list_transform(range(0, 4), g ->
               CASE WHEN (list_sum(list_slice(w, g*4+1, g*4+4)) / 4.0 - mu)
                         < -0.6745 * sigma THEN 'a'
                    WHEN (list_sum(list_slice(w, g*4+1, g*4+4)) / 4.0 - mu)
                         < 0.0 * sigma THEN 'b'
                    WHEN (list_sum(list_slice(w, g*4+1, g*4+4)) / 4.0 - mu)
                         < 0.6745 * sigma THEN 'c'
                    ELSE 'd' END), '') AS sax_word
      FROM stats2
    ),
    z AS (
      SELECT user_id, win_start, sax_word,
             CASE WHEN sigma > 0 THEN list_transform(w, x -> (x - mu) / sigma)
                  ELSE list_transform(w, x -> 0.0) END AS zv
      FROM sym
    )
    SELECT key_a, start_a, key_b, start_b, sax_word, dist FROM (
      SELECT a.user_id AS key_a, a.win_start AS start_a,
             b.user_id AS key_b, b.win_start AS start_b,
             a.sax_word AS sax_word,
             round(sqrt(list_sum(list_transform(range(1, 17),
               i -> (a.zv[i] - b.zv[i]) * (a.zv[i] - b.zv[i])))), 6) AS dist
      FROM z a JOIN z b ON a.sax_word = b.sax_word
       AND (a.user_id < b.user_id
            OR (a.user_id = b.user_id AND a.win_start < b.win_start))
    ) WHERE dist <= 3.0
    """,
)
def w16_sax_motif_pairs(spark, sf_dir):
    """W16 — motif search via SAX bucket join + exact z-norm refine
    (operators/timeseries.py:sax_motif_pairs): candidates only ever
    meet inside a shared-word bucket (equi-join — 22k candidate
    pairs vs 533k all-pairs at sf0.01, and the gap widens with
    scale), then exact z-normalized Euclidean distance keeps pairs
    <= 3.0. The time-series twin of minhash-LSH + Jaccard refine;
    oracle-EXACT end to end."""
    from eco_pulse_lakehouse_spark.operators.timeseries import sax_motif_pairs

    ev = T(spark, sf_dir, "events")
    return sax_motif_pairs(
        ev, "user_id", ("ts", "event_id"), "value",
        window_len=16, stride=8, paa_segments=4, max_dist=3.0,
    )


@q(
    "w19_sax_motif_capped",
    """
    WITH s AS (
      SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS v
      FROM events GROUP BY user_id
    ),
    wins AS (
      SELECT user_id, CAST(1 + 8 * j AS INT) AS win_start,
             list_slice(v, 1 + 8 * j, 16 + 8 * j) AS w
      FROM (
        SELECT user_id, v,
               unnest(range(0, GREATEST(CAST(0 AS BIGINT),
                                        (len(v) - 16) // 8 + 1))) AS j
        FROM s
      )
    ),
    stats AS (SELECT user_id, win_start, w, list_sum(w) / 16.0 AS mu FROM wins),
    stats2 AS (
      SELECT *, sqrt(list_sum(list_transform(w, x -> (x - mu) * (x - mu)))
                     / 16.0) AS sigma
      FROM stats
    ),
    sym AS (
      SELECT user_id, win_start, w, mu, sigma,
             array_to_string(list_transform(range(0, 4), g ->
               CASE WHEN (list_sum(list_slice(w, g*4+1, g*4+4)) / 4.0 - mu)
                         < -0.6745 * sigma THEN 'a'
                    WHEN (list_sum(list_slice(w, g*4+1, g*4+4)) / 4.0 - mu)
                         < 0.0 * sigma THEN 'b'
                    WHEN (list_sum(list_slice(w, g*4+1, g*4+4)) / 4.0 - mu)
                         < 0.6745 * sigma THEN 'c'
                    ELSE 'd' END), '') AS sax_word
      FROM stats2
    ),
    z AS (
      SELECT user_id, win_start, sax_word,
             CASE WHEN sigma > 0 THEN list_transform(w, x -> (x - mu) / sigma)
                  ELSE list_transform(w, x -> 0.0) END AS zv
      FROM sym
    ),
    zc AS (
      SELECT user_id, win_start, sax_word, zv FROM (
        SELECT *, row_number() OVER (
          PARTITION BY sax_word ORDER BY user_id, win_start) AS rk
        FROM z
      ) WHERE rk <= 40
    )
    SELECT key_a, start_a, key_b, start_b, sax_word, dist FROM (
      SELECT a.user_id AS key_a, a.win_start AS start_a,
             b.user_id AS key_b, b.win_start AS start_b,
             a.sax_word AS sax_word,
             round(sqrt(list_sum(list_transform(range(1, 17),
               i -> (a.zv[i] - b.zv[i]) * (a.zv[i] - b.zv[i])))), 6) AS dist
      FROM zc a JOIN zc b ON a.sax_word = b.sax_word
       AND (a.user_id < b.user_id
            OR (a.user_id = b.user_id AND a.win_start < b.win_start))
    ) WHERE dist <= 3.0
    """,
)
def w19_sax_motif_capped(spark, sf_dir):
    """W19 — the skew-guarded motif search: per-word window budget
    (operators/timeseries.py:sax_motif_pairs max_bucket_windows=40)
    keeps only each word's first 40 windows under the deterministic
    (key, win_start) order, bounding any hot bucket — a flat-series
    word that would go quadratic at 100× — at cap·(cap-1)/2 pairs.
    The rank comes from the distributed global row number (no
    per-word single-task sort); the oracle replays the identical
    cap with a SQL row_number, so the capped result is itself
    oracle-EXACT, not merely "fewer rows". Companion
    sax_bucket_overflow surfaces what the cap dropped (no silent
    caps — pytest pins it on an adversarial constant-series
    fixture)."""
    from eco_pulse_lakehouse_spark.operators.timeseries import sax_motif_pairs

    ev = T(spark, sf_dir, "events")
    return sax_motif_pairs(
        ev, "user_id", ("ts", "event_id"), "value",
        window_len=16, stride=8, paa_segments=4, max_dist=3.0,
        max_bucket_windows=40,
    )


@q(
    "w17_trend_slope",
    """
    WITH base AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS x,
             CAST(round(value * 1000000) AS BIGINT) AS y
      FROM events
    ),
    agg AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM base GROUP BY user_id
    )
    SELECT user_id, n,
      round(CASE WHEN (n * sxx - sx * sx) != 0 THEN
        (CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE)) / 1000000.0 * 86400.0 END, 6)
        AS slope_per_day,
      round(CASE WHEN (n * sxx - sx * sx) != 0 THEN
        CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        - ((CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE)) / 1000000.0)
          * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) END, 6) AS intercept
    FROM agg
    """,
)
def w17_trend_slope(spark, sf_dir):
    """W17 — per-key OLS trend (operators/timeseries.py:trend_slopes):
    regr_slope semantics with a determinism upgrade — the built-in
    accumulates doubles (partitioning-dependent, never hash-matches
    an oracle); this form aggregates exact BIGINT sufficient
    statistics (epoch-based x vs a plan-constant 2024-01-01 base,
    1e-6 fixed-point y), combines in DECIMAL(38,0)/HUGEINT, and
    divides once. One partial-aggregated groupBy — the minimum
    shuffle any per-key regression can have. Oracle-EXACT; DuckDB
    epoch() must floor (its BIGINT cast rounds, Spark's
    unix_timestamp floors)."""
    from eco_pulse_lakehouse_spark.operators.timeseries import trend_slopes

    ev = T(spark, sf_dir, "events")
    return trend_slopes(ev, "user_id", "ts", "value")


@q(
    "q7_winsorize",
    """
    WITH b AS (
      SELECT event_type,
             round(quantile_cont(value, 0.05), 6) AS lo,
             round(quantile_cont(value, 0.95), 6) AS hi
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value,
           least(greatest(value, lo), hi) AS clipped
    FROM events e JOIN b USING (event_type)
    """,
)
def q7_winsorize(spark, sf_dir):
    """Q7 — per-group winsorization (operators/quality.py:winsorize):
    clip to exact [p5, p95] per event_type. Bounds pass broadcasts
    back (no wide shuffle of the data side); 6dp-rounded bounds make
    the clip oracle-exact; approx_percentile is the documented 100 TB
    swap-in for the bounds pass."""
    from eco_pulse_lakehouse_spark.operators.quality import winsorize

    ev = T(spark, sf_dir, "events")
    return winsorize(ev, "event_type", "value").select(
        "event_id", "event_type", "value", "clipped"
    )


@q(
    "q8_quantile_binning",
    """
    WITH b AS (
      SELECT event_type,
             round(quantile_cont(value, 0.25), 6) AS q0,
             round(quantile_cont(value, 0.5), 6) AS q1,
             round(quantile_cont(value, 0.75), 6) AS q2
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value,
           CAST((value > q0) AS INT) + CAST((value > q1) AS INT)
             + CAST((value > q2) AS INT) AS bin
    FROM events e JOIN b USING (event_type)
    """,
)
def q8_quantile_binning(spark, sf_dir):
    """Q8 — per-group quartile binning (operators/quality.py:
    quantile_binning): QuantileDiscretizer semantics as a broadcast-
    bounds join; bin = number of exceeded cut points. Oracle-exact
    via 6dp-rounded cut points."""
    from eco_pulse_lakehouse_spark.operators.quality import quantile_binning

    ev = T(spark, sf_dir, "events")
    return quantile_binning(ev, "event_type", "value").select(
        "event_id", "event_type", "value", "bin"
    )


@q(
    "q9_cusum",
    """
    WITH RECURSIVE s AS (
      SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS v
      FROM events GROUP BY user_id
    ),
    st AS (
      SELECT user_id, len(v) AS n, v, list_sum(v) / len(v) AS mu FROM s
    ),
    st2 AS (
      SELECT *, sqrt(list_sum(list_transform(v, x -> (x - mu) * (x - mu)))
                     / n) AS sigma
      FROM st
    ),
    rec AS (
      SELECT user_id, 0 AS idx, CAST(0.0 AS DOUBLE) AS cs,
             CAST(0.0 AS DOUBLE) AS mx, CAST(NULL AS INT) AS cross_idx,
             n, mu, sigma, v
      FROM st2
      UNION ALL
      SELECT user_id, idx + 1,
             greatest(CAST(0.0 AS DOUBLE),
                      cs + (v[idx + 1] - mu - 0.5 * sigma)),
             greatest(mx, greatest(CAST(0.0 AS DOUBLE),
                                   cs + (v[idx + 1] - mu - 0.5 * sigma))),
             coalesce(cross_idx,
               CASE WHEN greatest(CAST(0.0 AS DOUBLE),
                                  cs + (v[idx + 1] - mu - 0.5 * sigma))
                         > 5.0 * sigma THEN CAST(idx + 1 AS INT) END),
             n, mu, sigma, v
      FROM rec WHERE idx < n
    )
    SELECT user_id, CAST(n AS INT) AS n,
           CASE WHEN sigma > 0 THEN round(mx / sigma, 6)
                ELSE 0.0 END AS max_cusum_sigma,
           cross_idx AS first_cross_idx
    FROM rec WHERE idx = n
    """,
)
def q9_cusum(spark, sf_dir):
    """Q9 — per-key CUSUM change-point detection (operators/
    anomaly.py:cusum_changepoints, Page 1954): the drift detector a
    metric monitor runs per source. Single sequential struct-fold
    recurrence S_i = max(0, S_{i-1} + x_i - mu - k*sigma); reports
    max CUSUM in sigma units and the first h-crossing index.
    Oracle-EXACT (sequential folds + correctly-rounded sqrt, same
    discipline as SAX)."""
    from eco_pulse_lakehouse_spark.operators.anomaly import cusum_changepoints

    ev = T(spark, sf_dir, "events")
    return cusum_changepoints(ev, "user_id", ("ts", "event_id"), "value")


@q("a20_theta_setops")  # sketch estimates: rows-only; accuracy pytest
def a20_theta_setops(spark, sf_dir):
    """A20 — theta-sketch SET OPERATIONS (Spark 4 DataSketches
    surface): per-event-type user sketches, then |click ∩ purchase|
    and |click \\ purchase| via sketch intersection/difference — the
    set algebra HLL cannot do (union-only). The 100 TB audience-
    overlap shape: sketch each segment once at ingest (KBs), answer
    any overlap question later without touching raw data. Estimates;
    exactness bounds pinned in tests/test_approx.py."""
    ev = T(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("s")
    )
    clicks = sk.filter(F.col("event_type") == "click").select(
        F.col("s").alias("c")
    )
    buys = sk.filter(F.col("event_type") == "purchase").select(
        F.col("s").alias("p")
    )
    both = clicks.crossJoin(buys)
    return both.select(
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("c"), F.col("p"))
        ).cast("bigint").alias("click_and_purchase"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("c"), F.col("p"))
        ).cast("bigint").alias("click_not_purchase"),
    )


@q("a21_kll_quantiles")  # sketch estimates: rows-only; accuracy pytest
def a21_kll_quantiles(spark, sf_dir):
    """A21 — MERGEABLE QUANTILES via KLL sketches (Spark 4
    DataSketches): each half-month sketches its values once; the
    combined p50/p95 comes from the pairwise sketch MERGE (the
    binary kll_sketch_merge_double), never a re-scan + global sort
    of history (exact percentile at 100 TB IS a global sort) — the
    quantile twin of a17's HLL rollup. Estimate accuracy vs exact
    percentile pinned in tests/test_approx.py."""
    ev = T(spark, sf_dir, "events")
    half = F.dayofmonth(F.col("ts")) <= 15
    first = ev.filter(half).agg(
        F.kll_sketch_agg_double("value").alias("a")
    )
    second = ev.filter(~half).agg(
        F.kll_sketch_agg_double("value").alias("b")
    )
    merged = first.crossJoin(second).select(
        F.kll_sketch_merge_double(F.col("a"), F.col("b")).alias("m")
    )
    return merged.select(
        F.round(
            F.kll_sketch_get_quantile_double(F.col("m"), F.lit(0.5)), 6
        ).alias("p50_est"),
        F.round(
            F.kll_sketch_get_quantile_double(F.col("m"), F.lit(0.95)), 6
        ).alias("p95_est"),
    )


@q(
    "a22_bitmap_distinct",
    """
    SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
           count(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY 1
    """,
)
def a22_bitmap_distinct(spark, sf_dir):
    """A22 — EXACT mergeable distinct-count via bitmap aggregates
    (Spark 3.5+ bitmap surface): per-day user bitmaps OR-merge into
    the monthly EXACT distinct count — the missing rung between
    COUNT(DISTINCT) (exact, but re-shuffles raw ids over any window)
    and HLL (mergeable but approximate, a17). Bitmaps are mergeable
    AND exact for integer keys: daily partitions aggregate once,
    any rollup is a cheap OR — and unlike every sketch entry this
    one carries a HARD oracle (the merged bitmap count must equal
    plain COUNT DISTINCT)."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("month", F.col("ts")).alias("__month"),
        F.date_trunc("day", F.col("ts")).alias("__day"),
        F.bitmap_bucket_number(F.col("user_id")).alias("__bucket"),
    ).agg(
        F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("user_id"))
        ).alias("__bm")
    )
    return (
        daily.groupBy("__month", "__bucket")
        .agg(F.bitmap_or_agg("__bm").alias("__merged"))
        .groupBy("__month")
        .agg(F.sum(F.bitmap_count("__merged")).alias("distinct_users"))
        .select(
            F.date_format("__month", "yyyy-MM").alias("month"),
            "distinct_users",
        )
    )


@q(
    "a23_listagg",
    """
    SELECT event_type,
           string_agg(CAST(user_id AS VARCHAR), ','
                      ORDER BY user_id, event_id) AS user_list
    FROM (SELECT event_type, user_id, event_id FROM events
          WHERE event_id % 199 = 0)
    GROUP BY event_type
    """,
)
def a23_listagg(spark, sf_dir):
    """A23 — ordered string aggregation (Spark 4 listagg ... WITHIN
    GROUP): deterministic ordered concatenation — the report/export
    shape collect_list can't give without a sort-in-array detour.
    Oracle: DuckDB string_agg ORDER BY."""
    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("event_id") % 199 == 0)
        .select(
            "event_type",
            F.col("user_id").cast("string").alias("uid"),
            "user_id",
            "event_id",
        )
    )
    return ev.groupBy("event_type").agg(
        F.expr(
            "listagg(uid, ',') WITHIN GROUP (ORDER BY user_id, event_id)"
        ).alias("user_list")
    )


@q(
    "f_try_arithmetic",
    """
    SELECT event_id,
           CASE WHEN CAST(event_id % 10 AS BIGINT) != 0
                THEN CAST(value AS DOUBLE) / CAST(event_id % 10 AS BIGINT)
           END AS safe_div,
           TRY_CAST(props AS BIGINT) AS props_num,
           CASE WHEN user_id % 7 = 0 THEN NULL
                ELSE user_id * 1000000 END AS safe_mul
    FROM events WHERE event_id % 101 = 0
    """,
)
def f_try_arithmetic(spark, sf_dir):
    """F-extra — ANSI error-safe arithmetic (try_divide / try_to_number
    / try_multiply): under ANSI mode a div-by-zero or bad cast FAILS
    the job; the try_* family yields NULL instead — the error-tolerant
    ingest posture a lakehouse needs when one poisoned row must not
    kill a 100 TB batch (quality.annotate quarantines the NULLs
    downstream). Oracle mirrors with CASE-guarded division and
    TRY_CAST; the multiply branch NULLs exactly where Spark's
    try_multiply would (no overflow in fixture range — the guard is
    the semantic under test)."""
    ev = T(spark, sf_dir, "events").filter(F.col("event_id") % 101 == 0)
    return ev.select(
        "event_id",
        F.try_divide(
            F.col("value").cast("double"),
            (F.col("event_id") % 10).cast("bigint"),
        ).alias("safe_div"),
        F.try_to_number(
            F.col("props"), F.lit("999999999999")
        ).cast("bigint").alias("props_num"),
        F.when(F.col("user_id") % 7 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.try_multiply(F.col("user_id"), F.lit(1000000)))
        .alias("safe_mul"),
    )


@q(
    "a24_exact_corr",
    """
    SELECT l_returnflag,
           round((sxy - sx * sy / n) / (n - 1), 6) AS covar_samp,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS corr
    FROM (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8))) AS STRING) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8))) AS STRING) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    """,
)
def a24_exact_corr(spark, sf_dir):
    """A24 — Pearson correlation / sample covariance via decimal-exact
    cross-moments (a12's float-determinism policy extended to second
    CROSS moments): the built-in corr/covar_samp are single-pass
    float accumulations — order-dependent under AQE repartitioning
    and never oracle-matchable; the five-moment decimal form is
    partitioning-independent and exact. One partial-aggregated
    groupBy (the minimum for any correlation), one combination in
    doubles, rounded 6dp."""
    li = T(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .cast("double").alias("sx"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double").alias("sy"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(18,8)"))
        .cast("double").alias("sxx"),
        F.sum(
            (F.col("l_extendedprice") * F.col("l_extendedprice"))
            .cast("decimal(28,8)")
        ).cast("double").alias("syy"),
        F.sum(
            (F.col("l_quantity") * F.col("l_extendedprice"))
            .cast("decimal(28,8)")
        ).cast("double").alias("sxy"),
    )
    covar = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("n") - 1
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return base.select(
        "l_returnflag",
        F.round(covar, 6).alias("covar_samp"),
        F.round(corr, 6).alias("corr"),
    )


@q(
    "a25_exact_skew_kurt",
    """
    SELECT l_returnflag,
           round((s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu)
                 / pow(s2 / n - mu * mu, 1.5), 6) AS skewness,
           round((s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n
                  - 3 * mu * mu * mu * mu)
                 / pow(s2 / n - mu * mu, 2) - 3, 6) AS kurtosis
    FROM (
      SELECT l_returnflag, n, s2, s3, s4, s1 / n AS mu FROM (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS s1,
               CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS s2,
               CAST(CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                             AS DECIMAL(28,8))) AS STRING) AS DOUBLE) AS s3,
               CAST(CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                             AS DECIMAL(28,8))) AS STRING) AS DOUBLE) AS s4
        FROM lineitem GROUP BY l_returnflag
      )
    )
    """,
)
def a25_exact_skew_kurt(spark, sf_dir):
    """A25 — population skewness g1 and excess kurtosis g2 via
    decimal-exact raw moments (completing the moment ladder: a12
    second, a24 cross, here third/fourth). Built-in skewness/kurtosis
    are single-pass float updates — order-dependent; the raw-moment
    decimal form is partitioning-independent. pow(x, 1.5/2.0) =
    sqrt-composable but pow itself is correctly rounded for these
    exponents in practice — outputs rounded 6dp per the
    transcendental rule."""
    li = T(spark, sf_dir, "lineitem")
    q_ = F.col("l_quantity")
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q_.cast("decimal(18,4)")).cast("double").alias("s1"),
        F.sum((q_ * q_).cast("decimal(18,8)")).cast("double").alias("s2"),
        F.sum((q_ * q_ * q_).cast("decimal(28,8)")).cast("double").alias("s3"),
        F.sum((q_ * q_ * q_ * q_).cast("decimal(28,8)"))
        .cast("double").alias("s4"),
    ).withColumn("mu", F.col("s1") / F.col("n"))
    n, mu, s2, s3, s4 = (F.col(c) for c in ("n", "mu", "s2", "s3", "s4"))
    m2 = s2 / n - mu * mu
    skew = (s3 / n - F.lit(3) * mu * s2 / n + F.lit(2) * mu * mu * mu) / F.pow(
        m2, F.lit(1.5)
    )
    kurt = (
        s4 / n
        - F.lit(4) * mu * s3 / n
        + F.lit(6) * mu * mu * s2 / n
        - F.lit(3) * mu * mu * mu * mu
    ) / F.pow(m2, F.lit(2.0)) - F.lit(3)
    return base.select(
        "l_returnflag",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
    )


@q(
    "a26_mode",
    """
    SELECT user_id, event_type AS modal_type, c AS n_occurrences FROM (
      SELECT user_id, event_type, c, row_number() OVER (
        PARTITION BY user_id ORDER BY c DESC, event_type ASC) AS rn
      FROM (SELECT user_id, event_type, COUNT(*) AS c
            FROM events GROUP BY user_id, event_type)
    ) WHERE rn = 1
    """,
)
def a26_mode(spark, sf_dir):
    """A26 — deterministic per-group mode: the built-in mode() breaks
    frequency ties arbitrarily (partitioning-dependent); count +
    rank with an explicit (count DESC, value ASC) order is
    reproducible anywhere and oracle-exact. Two partial-agg shuffles
    — the scalable mode shape."""
    ev = T(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("c").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("c").alias("n_occurrences"),
        )
    )


@q(
    "a28_arg_minmax",
    """
    WITH r AS (
      SELECT event_type, value, event_id, user_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id DESC) AS rx,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value ASC, event_id ASC) AS rn
      FROM events)
    SELECT event_type,
           max(CASE WHEN rx = 1 THEN value END) AS max_value,
           max(CASE WHEN rx = 1 THEN event_id END) AS max_event,
           max(CASE WHEN rx = 1 THEN user_id END) AS max_user,
           max(CASE WHEN rn = 1 THEN value END) AS min_value,
           max(CASE WHEN rn = 1 THEN event_id END) AS min_event,
           max(CASE WHEN rn = 1 THEN user_id END) AS min_user
    FROM r GROUP BY event_type
    """,
)
def a28_arg_minmax(spark, sf_dir):
    """A28 — deterministic arg_max / arg_min: which event carried the
    extreme value per type, ties broken by event_id. The built-in
    max_by/min_by tie arbitrarily (partitioning-dependent at scale);
    MAX over a STRUCT(ordering..., payload...) is lexicographic —
    deterministic given a unique tie-break column — AND map-side
    combinable, so this is ONE partial-aggregating shuffle versus
    the window row_number form that exchanges every row unreduced.
    The oracle replays the semantics via two row_number orders
    folded into one row per group with conditional aggregates."""
    ev = T(spark, sf_dir, "events")
    mx = F.max(F.struct("value", "event_id", "user_id"))
    mn = F.min(F.struct("value", "event_id", "user_id"))
    return ev.groupBy("event_type").agg(
        mx.getField("value").alias("max_value"),
        mx.getField("event_id").alias("max_event"),
        mx.getField("user_id").alias("max_user"),
        mn.getField("value").alias("min_value"),
        mn.getField("event_id").alias("min_event"),
        mn.getField("user_id").alias("min_user"),
    )


@q(
    "w18_window_distinct",
    """
    SELECT event_id, user_id,
           len(list_distinct(list(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
             AS distinct_types_so_far
    FROM events WHERE event_id % 53 = 0
    """,
)
def w18_window_distinct(spark, sf_dir):
    """W18 — running DISTINCT count per key: COUNT(DISTINCT) is not
    allowed over window frames in either engine; the idiom is
    size(array_distinct(collect_list)) over the running frame —
    expressed identically on both sides, so it is oracle-exact. The
    frame state is bounded by the small type domain; for
    high-cardinality columns the scalable form is a first-seen flag
    (row_number per (key, value) == 1) summed over the frame."""
    ev = T(spark, sf_dir, "events").filter(F.col("event_id") % 53 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w))).alias(
            "distinct_types_so_far"
        ),
    )


@q(
    "s16_versioned_table",
    """
    SELECT event_id, user_id, value FROM events WHERE event_id % 37 = 0
    """,
)
def s16_versioned_table(spark, sf_dir):
    """S16 — manifest-committed versioned table (sources/versioned.py
    — the native stand-in for the reference's Delta time travel,
    fire_risk_processor.py:73-86): v0 writes a STALE subset, v1
    writes the full current projection; the oracle matches the
    LATEST read while v0 remains readable (time travel) — pinned
    further in tests/test_versioned.py along with crash-orphan
    invisibility."""
    from eco_pulse_lakehouse_spark.sources import versioned

    path = os.path.join(_TMP, f"s16_ver_{os.path.basename(sf_dir.rstrip('/'))}")
    ev = T(spark, sf_dir, "events").filter(F.col("event_id") % 37 == 0).select(
        "event_id", "user_id", "value"
    )
    if not versioned.versions(path):
        versioned.write_version(ev.filter(F.col("event_id") % 2 == 0), path)
        versioned.write_version(ev, path)
    return versioned.read_version(spark, path)


@q(
    "m4_versioned_merge",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey % 3 = 0 THEN 'U'
                ELSE o_orderstatus END AS o_orderstatus
    FROM orders
    """,
)
def m4_versioned_merge(spark, sf_dir):
    """M4 — TRANSACTIONAL MERGE through the versioned table layer
    (sources/versioned.py:merge_into): base snapshot commits as v0,
    the MERGE commits as v1 via the atomic manifest swap — same
    result as the in-memory m1_merge_upsert (shared oracle), but
    crash-safe and rollback-able (v0 stays readable). Idempotent
    across invocations: an existing table is read, not re-merged."""
    from eco_pulse_lakehouse_spark.sources import versioned

    path = os.path.join(_TMP, f"m4_ver_{os.path.basename(sf_dir.rstrip('/'))}")
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    if not versioned.versions(path):
        versioned.write_version(o, path)
        updates = o.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        )
        versioned.merge_into(spark, path, updates, ["o_orderkey"])
    return versioned.read_version(spark, path)


@q(
    "s17_versioned_changes",
    """
    WITH base AS (
      SELECT event_id, user_id, value FROM events WHERE event_id % 37 = 0
    ),
    v0 AS (SELECT * FROM base),
    v1 AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 2 = 1 THEN value * 2 ELSE value END AS value
      FROM base WHERE event_id % 5 != 0
    )
    SELECT *, 'insert' AS _change_type FROM (
      SELECT * FROM v1 EXCEPT ALL SELECT * FROM v0)
    UNION ALL
    SELECT *, 'delete' AS _change_type FROM (
      SELECT * FROM v0 EXCEPT ALL SELECT * FROM v1)
    """,
)
def s17_versioned_changes(spark, sf_dir):
    """S17 — CHANGE DATA FEED over the versioned layer
    (sources/versioned.py:table_changes — Delta's ``table_changes``
    surface): v0 is a deterministic events projection; v1 deletes
    every 5th row and doubles odd-id values. The feed must show the
    dropped rows as deletes and each update as its delete+insert
    pair — the oracle replays both snapshots and diffs them with
    EXCEPT ALL (the same multiset semantics)."""
    from eco_pulse_lakehouse_spark.sources import versioned

    path = os.path.join(_TMP, f"s17_cdf_{os.path.basename(sf_dir.rstrip('/'))}")
    base = T(spark, sf_dir, "events").filter(
        F.col("event_id") % 37 == 0
    ).select("event_id", "user_id", "value")
    if not versioned.versions(path):
        versioned.write_version(base, path)
        v1 = base.filter(F.col("event_id") % 5 != 0).select(
            "event_id",
            "user_id",
            F.when(F.col("event_id") % 2 == 1, F.col("value") * 2)
            .otherwise(F.col("value"))
            .alias("value"),
        )
        versioned.write_version(v1, path)
    return versioned.table_changes(spark, path, from_version=0)


@q(
    "s18_versioned_vacuum",
    """
    SELECT event_id, user_id, value FROM events WHERE event_id % 41 = 0
    """,
)
def s18_versioned_vacuum(spark, sf_dir):
    """S18 — VACUUM (sources/versioned.py:vacuum): v0 commits a
    stale half, v1 the full projection; vacuum(keep_last=1) retires
    v0 (manifest first — atomic, under the commit lock — then the
    directory). The surviving head must still read exactly the full
    projection; retirement/orphan-cleanup mechanics are pinned in
    tests/test_versioned.py."""
    from eco_pulse_lakehouse_spark.sources import versioned

    path = os.path.join(_TMP, f"s18_vac_{os.path.basename(sf_dir.rstrip('/'))}")
    ev = T(spark, sf_dir, "events").filter(
        F.col("event_id") % 41 == 0
    ).select("event_id", "user_id", "value")
    if not versioned.versions(path):
        versioned.write_version(ev.filter(F.col("event_id") % 2 == 0), path)
        versioned.write_version(ev, path)
        versioned.vacuum(path, keep_last=1)
    return versioned.read_version(spark, path)


@q(
    "s19_versioned_restore",
    """
    SELECT event_id, user_id, value FROM events WHERE event_id % 43 = 0
    """,
)
def s19_versioned_restore(spark, sf_dir):
    """S19 — RESTORE (sources/versioned.py:restore): v0 commits the
    good projection, v1 a corrupted subset; restore(0) commits v0's
    content forward as v2 (Delta RESTORE — rollback is a forward
    commit, the bad head stays inspectable). The latest read must
    equal the original projection exactly."""
    from eco_pulse_lakehouse_spark.sources import versioned

    path = os.path.join(_TMP, f"s19_res_{os.path.basename(sf_dir.rstrip('/'))}")
    ev = T(spark, sf_dir, "events").filter(
        F.col("event_id") % 43 == 0
    ).select("event_id", "user_id", "value")
    if not versioned.versions(path):
        versioned.write_version(ev, path)
        versioned.write_version(ev.filter(F.col("event_id") % 2 == 0), path)
        versioned.restore(spark, path, 0)
    return versioned.read_version(spark, path)


@q(
    "w20_capped_sessions",
    """
    WITH RECURSIVE s AS (
      SELECT user_id,
             list(struct_pack(e := CAST(floor(epoch(ts)) AS BIGINT),
                              id := event_id)
                  ORDER BY ts, event_id) AS v
      FROM events GROUP BY user_id
    ),
    rec AS (
      SELECT user_id, 0 AS idx, 0 AS sid,
             CAST(-1000000000000000 AS BIGINT) AS sess_start,
             CAST(-1000000000000000 AS BIGINT) AS prev_e,
             CAST(NULL AS BIGINT) AS event_id, len(v) AS n, v
      FROM s
      UNION ALL
      SELECT user_id, idx + 1,
             CASE WHEN v[idx + 1].e - prev_e > 1800
                    OR v[idx + 1].e - sess_start > 7200
                  THEN sid + 1 ELSE sid END,
             CASE WHEN v[idx + 1].e - prev_e > 1800
                    OR v[idx + 1].e - sess_start > 7200
                  THEN v[idx + 1].e ELSE sess_start END,
             v[idx + 1].e,
             v[idx + 1].id,
             n, v
      FROM rec WHERE idx < n
    )
    SELECT user_id, event_id, CAST(sid AS INT) AS session_id
    FROM rec WHERE idx >= 1
    """,
)
def w20_capped_sessions(spark, sf_dir):
    """W20 — sessionization with an inactivity gap AND a max-duration
    cap (operators/windows.py:capped_sessionize, 30 min gap / 2 h
    cap): the runaway-session guard. The cap makes assignment a true
    sequential recurrence (each session start depends on all earlier
    splits), inexpressible by w7's lag + running sum — replayed as a
    per-key struct fold on the Spark side and a recursive CTE in the
    oracle (DuckDB list_reduce struct accumulators are unsound for
    cross-field recurrences). Integer-exact end to end."""
    from eco_pulse_lakehouse_spark.operators.windows import capped_sessionize

    ev = T(spark, sf_dir, "events")
    return capped_sessionize(
        ev, "user_id", "ts", "event_id", gap_s=1800, cap_s=7200
    )


@q(
    "a27_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id,
             CAST(CAST(date_trunc('week', min(ts)) AS DATE) AS VARCHAR)
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('day', CAST(f.cohort_week AS DATE),
                            CAST(date_trunc('week', e.ts) AS DATE)) // 7
                  AS BIGINT) AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act GROUP BY cohort_week, week_offset
    """,
)
def a27_cohort_retention(spark, sf_dir):
    """A27 — cohort retention (the product-analytics staple beside
    w12's funnel): users grouped by first-activity week, counted in
    each later week they return. One min-aggregation builds the
    cohort map (dim-sized — broadcasts back), one DISTINCT over
    (user, week) bounds re-activity, integer week offsets from
    date-truncated Mondays (exact multiples of 7 days — no
    timezone/rounding hazard). Cohort weeks surface as ISO-8601
    STRINGS (Spark dates reach pandas as datetime.date, DuckDB's as
    Timestamp — strings hash identically)."""
    ev = T(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts")))
        .cast("string")
        .alias("cohort_week")
    )
    act = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.to_date(F.date_trunc("week", F.col("ts"))),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


@q(
    "q11_ks_drift",
    """
    WITH v AS (
      SELECT value AS vv,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS k1,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS k2
      FROM events WHERE value IS NOT NULL GROUP BY value
    ),
    c AS (
      SELECT SUM(k1) OVER (ORDER BY vv) AS c1,
             SUM(k2) OVER (ORDER BY vv) AS c2
      FROM v
    ),
    t AS (SELECT CAST(SUM(k1) AS BIGINT) AS n1,
                 CAST(SUM(k2) AS BIGINT) AS n2 FROM v)
    SELECT n1, n2,
           CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num,
           CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS DOUBLE)
             / CAST(n1 * n2 AS DOUBLE) AS ks_stat
    FROM c CROSS JOIN t GROUP BY n1, n2
    """,
)
def q11_ks_drift(spark, sf_dir):
    """Q11 — exact two-sample Kolmogorov–Smirnov drift statistic
    (operators/anomaly.py:ks_statistic): D = max |F1 − F2| between
    the even- and odd-user value distributions, as exact integer
    cross-products |c1·n2 − c2·n1| — no float accumulation, the
    final stat is one double division. Cumulative counts run through
    the range-partitioned running-sum composition
    (rank.py:global_running_sum), never a single-partition window —
    the drift monitor a 100 TB feature store runs between daily
    snapshots."""
    from eco_pulse_lakehouse_spark.operators.anomaly import ks_statistic

    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ks_statistic(ev, "value", F.col("user_id") % 2 == 0)


@q(
    "q12_psi_drift",
    """
    WITH b AS (
      SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS k1,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS k2
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(k1) AS BIGINT) AS n1,
                 CAST(SUM(k2) AS BIGINT) AS n2 FROM b),
    terms AS (
      SELECT n1, n2,
             CAST(round((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                         - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                        * round(ln(CAST(k1 * n2 AS DOUBLE)
                                   / CAST(k2 * n1 AS DOUBLE)), 6)
                        * 1000000000.0) AS BIGINT) AS term_fp
      FROM b CROSS JOIN t WHERE k1 > 0 AND k2 > 0
    )
    SELECT n1, n2, CAST(SUM(term_fp) AS BIGINT) AS psi_fp,
           CAST(SUM(term_fp) AS DOUBLE) / 1000000000.0 AS psi
    FROM terms GROUP BY n1, n2
    """,
)
def q12_psi_drift(spark, sf_dir):
    """Q12 — Population Stability Index between the even/odd-user
    value distributions (operators/anomaly.py:psi_drift): exact
    integer bin counts, ln on one exact BIGINT cross-product ratio
    rounded 6dp before the multiply, 1e-9 fixed-point terms summed
    as BIGINTs — the order-independent, oracle-exact form of the
    drift metric every feature-monitoring dashboard reports."""
    from eco_pulse_lakehouse_spark.operators.anomaly import psi_drift

    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return psi_drift(ev, "value", F.col("user_id") % 2 == 0)


@q(
    "q15_chi2_drift",
    """
    WITH b AS (
      SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS k1,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS k2
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(k1) AS BIGINT) AS n1,
                 CAST(SUM(k2) AS BIGINT) AS n2 FROM b),
    terms AS (
      SELECT n1, n2,
             CAST(round(
               CAST(k2 * n1 - k1 * n2 AS DOUBLE)
                 * CAST(k2 * n1 - k1 * n2 AS DOUBLE)
                 / (CAST(k1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * CAST(n1 AS DOUBLE))
                 * 1000000000.0) AS BIGINT) AS term_fp
      FROM b CROSS JOIN t WHERE k1 > 0
    )
    SELECT n1, n2, CAST(SUM(term_fp) AS BIGINT) AS chi2_fp,
           CAST(SUM(term_fp) AS DOUBLE) / 1000000000.0 AS chi2,
           CAST(COUNT(*) - 1 AS BIGINT) AS dof
    FROM terms GROUP BY n1, n2
    """,
)
def q15_chi2_drift(spark, sf_dir):
    """Q15 — two-sample chi-square drift statistic between the
    even/odd-user value distributions
    (operators/anomaly.py:chi2_drift): PSI's hypothesis-test
    sibling — chi2 = Σ (k2 − k1·n2/n1)²/(k1·n2/n1) over q12's bins,
    each term computed from the exact integer cross-product
    d = k2·n1 − k1·n2 as d²/(k1·n2·n1) (both exact as doubles),
    quantized to 1e-9 fixed point so the sum is order-independent.
    Reports dof = populated_bins − 1 for p-value lookup. Bin counts
    stay LINEAR partials (chi2_from_bins), so the t23 streaming
    pattern applies unchanged."""
    from eco_pulse_lakehouse_spark.operators.anomaly import chi2_drift

    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return chi2_drift(ev, "value", F.col("user_id") % 2 == 0)


@q("w21_dtw_motif_pairs")  # DP list accumulator: not expressible in
# DuckDB SQL (list_reduce folds without an initial value), so this
# entry is rows-only; the exact DP semantics are pinned bit-for-bit
# in tests/test_retrieval_graph_ts.py against a pure-Python DTW.
def w21_dtw_motif_pairs(spark, sf_dir):
    """W21 — elastic motif refine: banded DTW over SAX candidate
    buckets (operators/timeseries.py:dtw_motif_pairs). Rigid
    Euclidean refine (w16) misses phase-drifted motifs; DTW aligns
    along a monotone warp bounded by the Sakoe-Chiba band. DP runs
    on the 4-segment PAA means, entirely row-local after the bucket
    equi-join."""
    from eco_pulse_lakehouse_spark.operators.timeseries import (
        dtw_motif_pairs,
    )

    ev = T(spark, sf_dir, "events")
    return dtw_motif_pairs(
        ev, "user_id", ("ts", "event_id"), "value",
        window_len=16, stride=8, paa_segments=4,
        band_radius=1, max_dist=2.0,
    )


@q(
    "f_regexp_suite",
    """
    SELECT event_id,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT)
             AS n_digit_runs,
           TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS first_num,
           regexp_replace(props, '[0-9]+', '#', 'g') AS masked
    FROM events WHERE event_id % 11 = 0
    """,
)
def f_regexp_suite(spark, sf_dir):
    """F — the regexp scalar surface in one projection:
    regexp_extract_all (count of digit runs — the array itself is
    reshaped to its size, top-level arrays break the driver
    canonicalizer), first-match extract with a numeric cast, and
    global regexp_replace (Spark replaces all matches by default;
    DuckDB needs the 'g' flag — same Java-regex ∩ RE2 dialect rule
    as the PII scrubber). All codegen JVM expressions."""
    ev = T(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    return ev.select(
        "event_id",
        F.size(F.regexp_extract_all("props", F.lit("[0-9]+"), 0))
        .cast("int")
        .alias("n_digit_runs"),
        F.regexp_extract("props", "[0-9]+", 0)
        .cast("bigint")
        .alias("first_num"),
        F.regexp_replace("props", "[0-9]+", "#").alias("masked"),
    )


@q(
    "q13_benford",
    """
    WITH fp AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND value > 0
    ),
    d AS (
      SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit
      FROM fp WHERE v > 0
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
    SELECT digit, CAST(count(*) AS BIGINT) AS observed,
           CAST(count(*) AS DOUBLE) / CAST(n AS DOUBLE) AS observed_frac,
           round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_p
    FROM d CROSS JOIN t GROUP BY digit, n
    """,
)
def q13_benford(spark, sf_dir):
    """Q13 — Benford first-significant-digit profile, the classic
    fabricated-data screen: first digits come from the INTEGER
    rendering of 1e-2 fixed-point values (double→string rendering
    differs between engines; bigint→string is identical — and no
    log10-of-value trick, whose floor straddles ulp boundaries at
    powers of ten). Expected Benford mass ln(1+1/d)/ln(10) is a
    ratio of two ln calls rounded 6dp (transcendental-parity rule);
    observed fractions are ONE double division of exact counts."""
    ev = T(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    v = F.round(F.col("value") * 100, 0).cast("bigint")
    d = ev.select(v.alias("v")).filter(F.col("v") > 0).select(
        F.substring(F.col("v").cast("string"), 1, 1).cast("int").alias("digit")
    )
    t = d.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    return (
        d.crossJoin(F.broadcast(t))
        .groupBy("digit", "__n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("observed"))
        .select(
            "digit",
            "observed",
            (F.col("observed").cast("double") / F.col("__n").cast("double"))
            .alias("observed_frac"),
            F.round(
                F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
                / F.log(F.lit(10.0)),
                6,
            ).alias("benford_p"),
        )
    )


@q(
    "j9_asof_tolerance",
    """
    SELECT l.event_id, l.user_id, l.ts, l.value,
           CASE WHEN epoch(l.ts) - epoch(r.ts) <= 86400.0
                THEN r.value END AS station_value,
           CASE WHEN epoch(l.ts) - epoch(r.ts) <= 86400.0
                THEN r.ts END AS station_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') l
    ASOF LEFT JOIN
         (SELECT * FROM events WHERE event_type IN ('view','click')) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def j9_asof_tolerance(spark, sf_dir):
    """J9 — as-of join with match TOLERANCE (pandas merge_asof's
    ``tolerance=``; operators/joins.py:asof_join_tolerance): the
    latest prior reading per key, but never one more than a day
    stale (~40% of matches here exceed the bound and NULL out) — stale matches NULL out like unmatched rows. Same single
    union-tag sweep as j4 plus a row-local codegen CASE; the oracle
    is DuckDB ASOF with the identical epoch-gap CASE."""
    ev = T(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("ts_r"),
        F.col("value").alias("station_value"),
    )
    joined = oj.asof_join_tolerance(
        left, right,
        on="user_id", left_ts="ts", right_ts="ts_r",
        right_vals=["station_value"], tolerance_seconds=86400.0,
    )
    return joined.select(
        "event_id", "user_id", "ts", "value",
        "station_value", F.col("ts_r").alias("station_ts"),
    )


@q(
    "x7_curriculum",
    """
    WITH r AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS qrank,
             count(*) OVER () AS n
      FROM documents
    ),
    b AS (
      SELECT doc_id, n_chars,
             CAST(FLOOR((qrank - 1) * 10 / CAST(n AS DOUBLE)) AS INT)
               AS bucket
      FROM r
    )
    SELECT doc_id, n_chars, bucket,
           row_number() OVER (ORDER BY bucket ASC,
             (CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE)
              / 4294967296.0) ASC,
             doc_id ASC) AS train_pos
    FROM b
    """,
)
def x7_curriculum(spark, sf_dir):
    """X7 — curriculum training order
    (operators/sampling.py:curriculum_order): equi-depth quality
    deciles (n_chars as the score, highest first) with a
    deterministic Knuth-hash shuffle WITHIN each decile and a global
    train_pos — the easy-to-hard data schedule as a reproducible
    table. Both global orders run the range-partitioned rank
    composition (no single-partition window); the oracle replays
    them as two window row_numbers."""
    from eco_pulse_lakehouse_spark.operators.sampling import (
        curriculum_order,
    )

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint"), "n_chars"
    )
    return curriculum_order(d, "doc_id", "n_chars", n_buckets=10)


@q(
    "a31_weighted_median",
    """
    WITH v AS (
      SELECT l_extendedprice AS val,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wt
      FROM lineitem GROUP BY 1
    ),
    c AS (SELECT val, SUM(wt) OVER (ORDER BY val) AS cw FROM v),
    t AS (SELECT CAST(SUM(wt) AS BIGINT) AS W FROM v)
    SELECT CAST(min(val) AS DOUBLE) AS weighted_median,
           CAST(max(W) AS BIGINT) AS total_weight
    FROM c CROSS JOIN t WHERE 2 * cw >= W
    """,
)
def a31_weighted_median(spark, sf_dir):
    """A31 — EXACT weighted median (lower median: smallest value
    whose running weight reaches half the total — the integer
    comparison 2·cum ≥ W, no float quantile math): quantity-weighted
    median price over lineitem. Collapse to the distinct-value
    weight table first (one partial-agg shuffle), then cumulative
    weights via the range-partitioned running-sum composition
    (rank.py:global_running_sum) — the exact-selection shape that at
    100 TB replaces a global sort, and the second consumer of the
    KS statistic's CDF machinery."""
    from eco_pulse_lakehouse_spark.operators.rank import global_running_sum

    li = T(spark, sf_dir, "lineitem")
    v = li.groupBy(F.col("l_extendedprice").alias("val")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("wt")
    )
    cum = global_running_sum(v, [F.col("val").asc()], ["wt"])
    tot = v.agg(F.sum("wt").cast("long").alias("__W"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.lit(2) * F.col("run_wt") >= F.col("__W"))
        .agg(
            F.min("val").cast("double").alias("weighted_median"),
            F.max("__W").cast("bigint").alias("total_weight"),
        )
    )


def _holt_fold_sql(series: str) -> str:
    """DuckDB twin of operators/timeseries.py:holt_fold over an
    ordered DOUBLE list named ``series`` — ONE definition shared by
    the w28 / w29 / flagship_sensor_health oracles so the recurrence
    text cannot drift (round-5 review). LIST accumulator on purpose:
    DuckDB 1.0's list_reduce evaluates struct_pack fields
    sequentially IN PLACE (see w28's docstring)."""
    return f"""list_reduce(
               list_prepend([{series}[1], {series}[2] - {series}[1]],
                 list_transform({series}[2:],
                   x -> [x, CAST(0.0 AS DOUBLE)])),
               (acc, e) -> [
                 CAST(0.5 AS DOUBLE) * e[1]
                   + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
                 CAST(0.5 AS DOUBLE)
                     * (CAST(0.5 AS DOUBLE) * e[1]
                        + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])
                        - acc[1])
                   + CAST(0.5 AS DOUBLE) * acc[2]])"""


@q(
    "w28_holt_linear",
    f"""
    WITH s AS (
      SELECT user_id,
             list_transform(
               list_sort(list(struct_pack(ts := ts,
                                          event_id := event_id,
                                          v := CAST(value AS DOUBLE)))),
               r -> r.v) AS vs,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    f AS (
      SELECT user_id, n_events,
             {_holt_fold_sql('vs')} AS hb
      FROM s
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n_events,
           hb[1] AS level, hb[2] AS trend, hb[1] + hb[2] AS forecast_1
    FROM f
    """,
)
def w28_holt_linear(spark, sf_dir):
    """W28 — Holt's linear (double exponential) smoothing per user
    (operators/timeseries.py:holt_linear): level+trend recurrence
    with alpha = beta = 1/2, the dyadic-coefficient discipline that
    makes a sequential float recurrence bit-exact cross-engine
    (w14/w22's trick — halving is exact scaling, every add/sub is
    one correctly-rounded IEEE op on identical operands).
    Initialization (l_1, b_1) = (x_1, x_2 - x_1), updates for
    t = 2..n. One groupBy exchange; order-insensitive struct-sort
    fold; struct accumulator keeps the expression tree O(1)/step.
    Oracle: DuckDB list_reduce with a 2-element LIST accumulator
    ([l, b]; init prepended since list_reduce has no empty-init
    form). A struct_pack accumulator is NOT usable here: DuckDB
    1.0's list_reduce evaluates struct fields sequentially IN PLACE,
    so acc.l inside the second field already reads the freshly
    computed l (probe: lambda `b := acc.l` returns the new l) —
    list values are pure. Output includes the 1-step forecast
    level + trend."""
    from eco_pulse_lakehouse_spark.operators.timeseries import (
        holt_linear,
    )

    ev = T(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts", "event_id", "value",
    )
    return holt_linear(ev, "user_id", "ts", "event_id", "value")





@q(
    "flagship_sensor_health",
    f"""
    WITH s AS (
      SELECT user_id,
             list_transform(
               list_sort(list(struct_pack(ts := ts,
                                          event_id := event_id,
                                          v := CAST(value AS DOUBLE)))),
               r -> r.v) AS vs
      FROM events GROUP BY user_id
    ),
    f AS (
      SELECT user_id, len(vs) - 1 AS n_history,
             vs[len(vs)] AS last_value,
             vs[1 : len(vs) - 1] AS hist
      FROM s WHERE len(vs) >= 4
    ),
    g AS (
      SELECT user_id, n_history, last_value,
             {_holt_fold_sql('hist')} AS hb
      FROM f
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_history AS BIGINT) AS n_history, last_value,
           hb[1] + hb[2] AS forecast,
           last_value - (hb[1] + hb[2]) AS residual,
           CASE WHEN abs(last_value - (hb[1] + hb[2]))
                     < CAST(10.0 AS DOUBLE) THEN 'ok'
                WHEN abs(last_value - (hb[1] + hb[2]))
                     < CAST(25.0 AS DOUBLE) THEN 'watch'
                ELSE 'alert' END AS status
    FROM g
    """,
)
def flagship_sensor_health(spark, sf_dir):
    """FLAGSHIP #5 — forward-looking sensor-health mart
    (plans/sensor_health.py): the predictive sibling of the
    reference's reactive gold risk job — per key, fit w28's
    bit-exact Holt forecaster on every reading EXCEPT the latest,
    score the latest against its own one-step forecast, classify
    the residual (|r| < 10 ok / < 25 watch / else alert). Composed
    from certified pieces (ordered fold substrate + holt_fold +
    CASE ladder) so the END-TO-END plan carries a hard oracle;
    ONE exchange; thresholds compare bit-identical doubles."""
    from eco_pulse_lakehouse_spark.plans.sensor_health import (
        sensor_health,
    )

    ev = T(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts", "event_id", "value",
    )
    return sensor_health(ev, "user_id", "ts", "event_id", "value")


@q(
    "w29_holt_mase",
    f"""
    WITH s AS (
      SELECT user_id,
             list_transform(
               list_sort(list(struct_pack(ts := ts,
                                          event_id := event_id,
                                          v := CAST(value AS DOUBLE)))),
               r -> r.v) AS vs
      FROM events GROUP BY user_id
    ),
    f AS (
      SELECT user_id, vs[1 : len(vs) - 4] AS train,
             vs[len(vs) - 3 :] AS test
      FROM s WHERE len(vs) >= 8
    ),
    g AS (
      SELECT user_id, len(train) AS nt, test,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(2, len(train) + 1),
                 i -> abs(train[i] - train[i - 1]))),
               (a, x) -> a + x)
               / CAST(len(train) - 1 AS DOUBLE) AS naive_mae,
             {_holt_fold_sql('train')} AS hb
      FROM f
    ),
    h AS (
      SELECT user_id, nt, naive_mae,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 5),
                 j -> abs(test[j]
                          - (hb[1] + CAST(j AS DOUBLE) * hb[2])))),
               (a, x) -> a + x) / CAST(4 AS DOUBLE) AS model_mae
      FROM g
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(nt AS BIGINT) AS n_train, naive_mae, model_mae,
           CASE WHEN naive_mae != CAST(0 AS DOUBLE)
                THEN model_mae / naive_mae END AS mase
    FROM h
    """,
)
def w29_holt_mase(spark, sf_dir):
    """W29 — per-user FORECAST BACKTEST with MASE scoring
    (operators/timeseries.py:holt_mase_backtest; Hyndman & Koehler
    2006): hold out the last 4 readings, fit w28's bit-exact Holt
    fold on the train prefix, forecast l + j·b, and report
    model MAE / in-sample one-step naive MAE — the scale-free
    forecast-quality metric (MASE < 1 beats naive). Every float
    reduction is a strictly left-to-right fold over the sorted
    series (never a SUM aggregate — partial-agg order floats), so
    the whole backtest replays in SQL; the Holt fold is staged as a
    COLUMN so the error lambda doesn't re-evaluate it per element
    (the w16 interpreted-HOF lesson). ONE exchange."""
    from eco_pulse_lakehouse_spark.operators.timeseries import (
        holt_mase_backtest,
    )

    ev = T(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts", "event_id", "value",
    )
    return holt_mase_backtest(
        ev, "user_id", "ts", "event_id", "value",
        horizon=4, min_train=4,
    )


def _hw_fold_sql(series: str, l0: str = "l0", b0: str = "b0") -> str:
    """DuckDB twin of operators/timeseries.py:hw_seasonal_fold
    (season m=4) over an ordered DOUBLE list named ``series`` whose
    init scalars ``l0``/``b0`` were staged in a prior CTE (staging
    keeps the seq-sum init subtree out of the per-element lambda —
    the w16 interpreted-HOF lesson applies to DuckDB text size too).
    ONE definition shared by the w30 / w31 / t34 oracles. LIST
    accumulator [l, b, s1..s4] on purpose (struct accumulators
    mutate in place under DuckDB list_reduce — the w28 lesson);
    acc[3] is always s_{t-m}, each step rotates the buffer."""
    return f"""list_reduce(
               list_prepend(
                 list_value({l0}, {b0})
                   || list_transform({series}[1:4], x -> x - {l0}),
                 list_transform({series}[9:], x -> [x])),
               (acc, e) ->
                 list_value(
                   CAST(0.5 AS DOUBLE) * (e[1] - acc[3])
                     + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
                   CAST(0.5 AS DOUBLE)
                       * ((CAST(0.5 AS DOUBLE) * (e[1] - acc[3])
                           + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]))
                          - acc[1])
                     + CAST(0.5 AS DOUBLE) * acc[2])
                 || acc[4:6]
                 || list_value(
                   CAST(0.5 AS DOUBLE) * (e[1] - acc[1] - acc[2])
                     + CAST(0.5 AS DOUBLE) * acc[3]))"""


_HW_SEQSUM = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}),"
    " (a, x) -> a + x)"
)


@q(
    "w30_hw_seasonal",
    f"""
    WITH s AS (
      SELECT user_id,
             list_transform(
               list_sort(list(struct_pack(ts := ts,
                                          event_id := event_id,
                                          v := CAST(value AS DOUBLE)))),
               r -> r.v) AS vs,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    i AS (
      SELECT user_id, n_events, vs,
             {_HW_SEQSUM.format(arr='vs[1:4]')}
               / CAST(4.0 AS DOUBLE) AS l0,
             ({_HW_SEQSUM.format(arr='vs[5:8]')}
              - {_HW_SEQSUM.format(arr='vs[1:4]')})
               / CAST(16.0 AS DOUBLE) AS b0
      FROM s WHERE len(vs) >= 8
    ),
    f AS (
      SELECT user_id, n_events, {_hw_fold_sql('vs')} AS st
      FROM i
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n_events,
           st[1] AS level, st[2] AS trend, st[3] AS season_next,
           st[1] + st[2] + st[3] AS forecast_1
    FROM f
    """,
)
def w30_hw_seasonal(spark, sf_dir):
    """W30 — Holt-Winters ADDITIVE-seasonal smoothing per user
    (operators/timeseries.py:holt_winters_seasonal, season m=4):
    the seasonal rung above w28's level+trend, closing VERDICT r05
    item 6. alpha = beta = gamma = 1/2 (dyadic — halving is exact
    binary scaling, every other op one correctly-rounded IEEE step
    on identical operands, so the recurrence is bit-exact
    cross-engine); textbook two-season init l_m = mean(x_1..x_m),
    b_m = (sum of season 2 - sum of season 1)/m^2, s_j = x_j - l_m,
    all via strictly left-to-right seq-sums and exact-integer
    divisions. Keys need >= 2m readings. Accumulator is one flat
    DOUBLE list [l, b, s1..s4] on BOTH engines (rotating buffer,
    acc[3] = the seasonal value the next reading consumes) — the
    Spark fold and the DuckDB list_reduce are structurally
    identical. ONE groupBy exchange; O(1) expression tree per step.
    forecast_1 = level + trend + season_next."""
    from eco_pulse_lakehouse_spark.operators.timeseries import (
        holt_winters_seasonal,
    )

    ev = T(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts", "event_id", "value",
    )
    return holt_winters_seasonal(
        ev, "user_id", "ts", "event_id", "value", season=4
    )


@q(
    "w31_hw_mase",
    f"""
    WITH s AS (
      SELECT user_id,
             list_transform(
               list_sort(list(struct_pack(ts := ts,
                                          event_id := event_id,
                                          v := CAST(value AS DOUBLE)))),
               r -> r.v) AS vs
      FROM events GROUP BY user_id
    ),
    f AS (
      SELECT user_id, vs[1 : len(vs) - 4] AS train,
             vs[len(vs) - 3 :] AS test
      FROM s WHERE len(vs) >= 16
    ),
    i AS (
      SELECT user_id, len(train) AS nt, train, test,
             {_HW_SEQSUM.format(arr='train[1:4]')}
               / CAST(4.0 AS DOUBLE) AS l0,
             ({_HW_SEQSUM.format(arr='train[5:8]')}
              - {_HW_SEQSUM.format(arr='train[1:4]')})
               / CAST(16.0 AS DOUBLE) AS b0
      FROM f
    ),
    g AS (
      SELECT user_id, nt, test,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(5, nt + 1),
                 i -> abs(train[i] - train[i - 4]))),
               (a, x) -> a + x)
               / CAST(nt - 4 AS DOUBLE) AS snaive_mae,
             {_hw_fold_sql('train')} AS st
      FROM i
    ),
    h AS (
      SELECT user_id, nt, snaive_mae,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 5),
                 j -> abs(test[j]
                          - (st[1] + CAST(j AS DOUBLE) * st[2]
                             + st[3 + ((j - 1) % 4)])))),
               (a, x) -> a + x) / CAST(4 AS DOUBLE) AS model_mae
      FROM g
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(nt AS BIGINT) AS n_train, snaive_mae, model_mae,
           CASE WHEN snaive_mae != CAST(0 AS DOUBLE)
                THEN model_mae / snaive_mae END AS mase
    FROM h
    """,
)
def w31_hw_mase(spark, sf_dir):
    """W31 — SEASONAL forecast backtest with MASE scoring
    (operators/timeseries.py:hw_mase_backtest; Hyndman & Koehler
    2006): hold out the last 4 readings, fit w30's bit-exact
    Holt-Winters fold on the train prefix, forecast
    l + j·b + s_{(j-1) mod m} and report model MAE / in-sample
    SEASONAL-naive MAE (mean |x_t - x_{t-m}|) — skill against the
    forecaster that repeats last season, the right denominator once
    a seasonal component is claimed. Train needs >= 3m + horizon
    readings. Same determinism discipline as w29: strictly
    sequential folds, exact-integer divisions, staged fold column."""
    from eco_pulse_lakehouse_spark.operators.timeseries import (
        hw_mase_backtest,
    )

    ev = T(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts", "event_id", "value",
    )
    return hw_mase_backtest(
        ev, "user_id", "ts", "event_id", "value",
        season=4, horizon=4,
    )


@q(
    "w22_bollinger",
    """
    WITH a AS (
      SELECT event_id, user_id,
             array_agg(CAST(value AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
      FROM events
    ),
    f AS (
      SELECT event_id, user_id,
             list_reduce(arr, (acc, x) -> acc * CAST(0.5 AS DOUBLE) + x)
               AS m,
             list_reduce(list_transform(arr, x -> x * x),
                         (acc, x) -> acc * CAST(0.5 AS DOUBLE) + x) AS s,
             list_reduce(list_transform(arr, x -> CAST(1.0 AS DOUBLE)),
                         (acc, x) -> acc * CAST(0.5 AS DOUBLE) + x)
               AS wsum
      FROM a
    )
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           m / wsum AS ew_mean,
           m / wsum + 2 * sqrt(GREATEST(CAST(0 AS DOUBLE),
             s / wsum - (m / wsum) * (m / wsum))) AS upper_band,
           m / wsum - 2 * sqrt(GREATEST(CAST(0 AS DOUBLE),
             s / wsum - (m / wsum) * (m / wsum))) AS lower_band
    FROM f
    """,
)
def w22_bollinger(spark, sf_dir):
    """W22 — exponentially-weighted Bollinger bands over the last 8
    readings per user: normalized EW mean ± 2 EW standard deviations,
    from THREE α=½ Horner folds over the identical frame array
    (value, value², and the weight-normalizer — halving is exact
    scaling, so like w14 every fold is bit-exact cross-engine; the
    division/sqrt/subtraction that follow are each single
    correctly-rounded IEEE ops on identical operands, so the bands
    carry NO rounding normalization either). Variance is clamped at
    0 before sqrt — catastrophic cancellation near-zero variance is
    deterministic but can dip below zero by one ulp. One window
    shuffle; folds are 8-element constants per row."""
    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-7, 0)
    )
    arr = F.collect_list(F.col("value").cast("double")).over(w)

    def horner(a):
        return F.aggregate(
            F.slice(a, F.lit(2), F.size(a) - 1),
            F.element_at(a, 1),
            lambda acc, x: acc * F.lit(0.5) + x,
        )

    base = ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        arr.alias("__arr"),
    ).select(
        "event_id",
        "user_id",
        horner(F.col("__arr")).alias("__m"),
        horner(F.transform(F.col("__arr"), lambda x: x * x)).alias("__s"),
        horner(
            F.transform(F.col("__arr"), lambda x: F.lit(1.0))
        ).alias("__wsum"),
    )
    mean = F.col("__m") / F.col("__wsum")
    var = F.greatest(
        F.lit(0.0), F.col("__s") / F.col("__wsum") - mean * mean
    )
    return base.select(
        "event_id",
        "user_id",
        mean.alias("ew_mean"),
        (mean + F.lit(2) * F.sqrt(var)).alias("upper_band"),
        (mean - F.lit(2) * F.sqrt(var)).alias("lower_band"),
    )


@q(
    "s21_text_source",
    """
    WITH lines AS (
      SELECT text FROM documents
      UNION ALL
      SELECT text FROM documents WHERE doc_id % 7 = 0
    )
    SELECT md5(text) AS line_md5,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
    FROM lines GROUP BY text
    """,
)
def s21_text_source(spark, sf_dir):
    """S21 — line-oriented TEXT source roundtrip (spark.read.text —
    the raw-corpus landing format every text pipeline starts from):
    documents — plus a deterministic duplicate subset (every 7th
    doc written twice), so the entry actually PINS that duplicate
    lines survive the roundtrip as a multiset (n_lines=2) rather
    than collapsing — write out one per line, read back as untyped
    lines, and aggregate per distinct line. Lines are identified by
    md5 — text files carry no row identity."""
    d = T(spark, sf_dir, "documents")
    lines_out = d.select("text").unionAll(
        d.filter(F.col("doc_id") % 7 == 0).select("text")
    )
    path = os.path.join(
        _TMP, f"s21_text_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    lines_out.write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    return lines.groupBy("value").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    ).select(
        F.md5(F.col("value")).alias("line_md5"),
        "n_lines",
        F.size(F.split(F.col("value"), " ")).cast("int").alias("n_tokens"),
    )


@q(
    "f_agg_predicates",
    """
    SELECT event_type,
           CAST(count_if(value > 100) AS BIGINT) AS n_high,
           bool_and(value IS NOT NULL) AS all_present,
           bool_or(value > 160) AS any_extreme,
           CAST(min(user_id) AS BIGINT) AS rep_user
    FROM events GROUP BY event_type
    """,
)
def f_agg_predicates(spark, sf_dir):
    """F — the predicate-aggregate surface in one groupBy: count_if,
    bool_and/bool_or (every/any), and a DETERMINISTIC representative
    row via min (any_value ties arbitrarily — the same
    reproducibility rule as a26_mode/a28_arg_minmax). All map-side
    combinable partial aggregates."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 100).cast("bigint").alias("n_high"),
        F.bool_and(F.col("value").isNotNull()).alias("all_present"),
        F.bool_or(F.col("value") > 160).alias("any_extreme"),
        F.min("user_id").cast("bigint").alias("rep_user"),
    )


@q(
    "q14_profile_diff",
    """
    WITH a AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
    wa AS (
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nu_k,
             COUNT(DISTINCT o_orderkey) AS nd_k,
             CAST(MIN(o_orderkey) AS VARCHAR) AS mn_k,
             CAST(MAX(o_orderkey) AS VARCHAR) AS mx_k,
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nu_s,
             COUNT(DISTINCT o_orderstatus) AS nd_s,
             CAST(MIN(o_orderstatus) AS VARCHAR) AS mn_s,
             CAST(MAX(o_orderstatus) AS VARCHAR) AS mx_s
      FROM a
    ),
    wb AS (
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nu_k,
             COUNT(DISTINCT o_orderkey) AS nd_k,
             CAST(MIN(o_orderkey) AS VARCHAR) AS mn_k,
             CAST(MAX(o_orderkey) AS VARCHAR) AS mx_k,
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nu_s,
             COUNT(DISTINCT o_orderstatus) AS nd_s,
             CAST(MIN(o_orderstatus) AS VARCHAR) AS mn_s,
             CAST(MAX(o_orderstatus) AS VARCHAR) AS mx_s
      FROM orders
    ),
    ta AS (
      SELECT 'o_orderkey' AS "column", n_rows AS n_rows_a, nu_k AS n_nulls_a,
             nd_k AS n_distinct_a, mn_k AS mn_a, mx_k AS mx_a FROM wa
      UNION ALL
      SELECT 'o_orderstatus', n_rows, nu_s, nd_s, mn_s, mx_s FROM wa
    ),
    tb AS (
      SELECT 'o_orderkey' AS "column", n_rows AS n_rows_b, nu_k AS n_nulls_b,
             nd_k AS n_distinct_b, mn_k AS mn_b, mx_k AS mx_b FROM wb
      UNION ALL
      SELECT 'o_orderstatus', n_rows, nu_s, nd_s, mn_s, mx_s FROM wb
    )
    SELECT "column", n_rows_a, n_rows_b, n_nulls_a, n_nulls_b,
           n_distinct_a, n_distinct_b,
           CAST(n_distinct_b - n_distinct_a AS BIGINT) AS distinct_delta,
           CAST(n_rows_b AS DOUBLE) / CAST(n_rows_a AS DOUBLE) AS row_ratio,
           mn_a IS DISTINCT FROM mn_b AS min_changed,
           mx_a IS DISTINCT FROM mx_b AS max_changed
    FROM ta JOIN tb USING ("column")
    """,
)
def q14_profile_diff(spark, sf_dir):
    """Q14 — snapshot-vs-snapshot PROFILE drift report
    (operators/quality.py:profile_diff): the even-keys half of
    orders vs the full table, per-column row/null/distinct counts
    side by side with distinct deltas, the row ratio, and min/max
    movement flags — the per-column data-contract check beside the
    value-level KS/PSI detectors. One single-pass profile per side
    (q4's one-aggregation-job property, twice)."""
    from eco_pulse_lakehouse_spark.operators.quality import profile_diff

    o = T(spark, sf_dir, "orders")
    return profile_diff(
        o.filter(F.col("o_orderkey") % 2 == 0),
        o,
        ["o_orderkey", "o_orderstatus"],
    )


@q(
    "w23_twap",
    """
    WITH e AS (
      SELECT user_id, ts, event_id,
             date_trunc('day', ts) AS day_ts,
             CAST(round(value * 10000) AS BIGINT) AS v_fp
      FROM events
    ),
    p AS (
      SELECT *,
             lag(v_fp) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_v,
             lag(day_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_day
      FROM e
    ),
    u AS (
      SELECT user_id, ts, 1 AS syn, event_id, day_ts, v_fp FROM p
      UNION ALL
      SELECT user_id, day_ts AS ts, 0 AS syn, event_id, day_ts,
             prev_v AS v_fp
      FROM p WHERE prev_day IS NOT NULL AND prev_day < day_ts
    ),
    d AS (
      SELECT user_id, strftime(day_ts, '%Y-%m-%d') AS day, syn,
             COALESCE(lead(epoch_ms(ts)) OVER (
               PARTITION BY user_id, day_ts ORDER BY ts, syn, event_id),
               epoch_ms(day_ts + INTERVAL 1 DAY)) - epoch_ms(ts) AS dur,
             v_fp
      FROM u
    )
    SELECT user_id, day, CAST(SUM(syn) AS BIGINT) AS n_events,
           CAST(SUM(dur) AS BIGINT) AS total_dur_ms,
           CAST(SUM(v_fp * dur) AS DOUBLE)
             / (CAST(SUM(dur) AS DOUBLE) * 10000.0) AS twap
    FROM d GROUP BY user_id, day
    """,
)
def w23_twap(spark, sf_dir):
    """W23 — TIME-WEIGHTED average per (user, day)
    (operators/timeseries.py:time_weighted_avg): each reading
    weighted by its hold duration (lead ms diff; last reading holds
    to midnight; the PRIOR day's last reading carries in as a
    synthetic midnight reading so late-first-event days aren't
    biased — round-3 advisor fix) — the duty-cycle-correct mean for
    irregular sensor cadences, where plain AVG over-weights bursts.
    Durations are exact BIGINT ms, values 1e-4 fixed point — every
    product under 2^53, all-BIGINT (decimal widening silently goes
    DOUBLE in DuckDB past precision 38), one double division at the
    end — oracle-exact. n_events counts real readings only."""
    from eco_pulse_lakehouse_spark.operators.timeseries import (
        time_weighted_avg,
    )

    ev = T(spark, sf_dir, "events")
    return time_weighted_avg(ev, "user_id", "ts", "event_id", "value")


@q(
    "w25_twap_gap_days",
    """
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
             CAST(round(value * 10000) AS BIGINT) AS v_fp
      FROM events
    ),
    p AS (
      SELECT user_id, ts_ms, v_fp,
             COALESCE(lead(ts_ms) OVER (
               PARTITION BY user_id ORDER BY ts_ms, event_id),
               (ts_ms // 86400000 + 1) * 86400000) AS end_ms
      FROM e
    ),
    x AS (
      SELECT user_id, ts_ms, end_ms, v_fp,
             ts_ms // 86400000 AS d0, u.di AS di
      FROM p, unnest(range(ts_ms // 86400000,
             greatest(ts_ms // 86400000,
                      (end_ms - 1) // 86400000) + 1)) AS u(di)
    ),
    c AS (
      SELECT user_id, di,
             CASE WHEN di = d0 THEN 1 ELSE 0 END AS own,
             least(end_ms, (di + 1) * 86400000)
               - greatest(ts_ms, di * 86400000) AS dur,
             v_fp
      FROM x
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(epoch_ms(di * 86400000), '%Y-%m-%d') AS day,
           CAST(SUM(own) AS BIGINT) AS n_events,
           CAST(SUM(dur) AS BIGINT) AS total_dur_ms,
           CAST(SUM(v_fp * dur) AS DOUBLE)
             / (CAST(SUM(dur) AS DOUBLE) * 10000.0) AS twap
    FROM c GROUP BY user_id, di
    """,
)
def w25_twap_gap_days(spark, sf_dir):
    """W25 — FULL-COVERAGE daily TWAP
    (operators/timeseries.py:time_weighted_avg_daily): w23's stated
    limit closed — key-days with ZERO events while a reading holds
    appear (n_events 0, twap = held value, a full day of duration)
    via the interval-by-day explode. Day indexes are ms-epoch
    integer divisions (pure BIGINT — no engine date functions in the
    hot path), overlaps are clamp arithmetic, values 1e-4 fixed
    point, one double division — oracle-exact. On event-days the
    result is IDENTICAL to w23 (pinned in pytest)."""
    from eco_pulse_lakehouse_spark.operators.timeseries import (
        time_weighted_avg_daily,
    )

    ev = T(spark, sf_dir, "events")
    return time_weighted_avg_daily(ev, "user_id", "ts", "event_id", "value")
