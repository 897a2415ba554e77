"""Scalar column expressions pinned to the reference's semantics.

Every function returns a ``pyspark.sql.Column`` built from built-in
functions — zero Python UDFs (the reference itself uses none on the
Spark side; see SURVEY.md §2.10). Citations point into
``/root/reference`` for semantic parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- geo / distance -------------------------------------------------------


def euclidean_distance_deg(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Planar 'distance in degrees' — sqrt(Δlat² + Δlon²).

    This is deliberately NOT Haversine: the reference computes plain
    Euclidean distance on raw degrees (gold_batch_job.py:54-57) even
    though its README claims Haversine (README.MD:281). We reproduce
    the as-built semantics; see :func:`haversine_km` for the
    physically-correct alternative mode.
    """
    dlat = lat1 - lat2
    dlon = lon1 - lon2
    return F.sqrt(dlat * dlat + dlon * dlon)


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km (canonical mode, not used for parity)."""
    r = 6371.0088
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1)
    dlmb = F.radians(lon2 - lon1)
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(p1) * F.cos(p2) * F.sin(dlmb / 2) * F.sin(dlmb / 2)
    )
    return F.lit(2 * r) * F.asin(F.sqrt(a))


# --- risk classification --------------------------------------------------

# Thresholds exactly as built (gold_batch_job.py:63-74). Note the
# Kelvin-literal-vs-Celsius-column inconsistency documented in
# SURVEY.md §1.2 — parity requires `temperature >= 303.15` verbatim.
WIND_EXTREME = 30.0
WIND_HIGH = 20.0
TEMP_THRESHOLD_AS_BUILT = 303.15  # Kelvin literal compared to a °C column
TEMP_THRESHOLD_CANONICAL = 30.0  # °C — the intended 30-30-30 rule
HUMIDITY_THRESHOLD = 30.0

RISK_LEVELS = ("EXTREME", "VERY_HIGH", "HIGH", "MODERATE", "LOW")


def risk_level(
    confidence: Column,
    wind_speed: Column,
    temperature: Column,
    humidity: Column,
    temp_threshold: float = TEMP_THRESHOLD_AS_BUILT,
) -> Column:
    """5-way first-match CASE chain, order pinned to gold_batch_job.py:65-74.

    EXTREME  : confidence='h' AND wind>=30 AND temp>=thr AND humidity<=30
    VERY_HIGH: confidence='h' AND wind>=30
    HIGH     : confidence='h' AND wind>=20
    MODERATE : confidence='h'
    LOW      : otherwise
    """
    high_conf = confidence == "h"
    return (
        F.when(
            high_conf
            & (wind_speed >= WIND_EXTREME)
            & (temperature >= temp_threshold)
            & (humidity <= HUMIDITY_THRESHOLD),
            "EXTREME",
        )
        .when(high_conf & (wind_speed >= WIND_EXTREME), "VERY_HIGH")
        .when(high_conf & (wind_speed >= WIND_HIGH), "HIGH")
        .when(high_conf, "MODERATE")
        .otherwise("LOW")
    )


def risk_rank(risk: Column) -> Column:
    """Ordinal for keep-best ordering (app.py:63-64 dict-map → when-chain).

    EXTREME=0 < VERY_HIGH=1 < HIGH=2 < MODERATE=3 < LOW=4; unknown → 5.
    """
    expr = F.lit(5)
    for i, lvl in reversed(list(enumerate(RISK_LEVELS))):
        expr = F.when(risk == lvl, i).otherwise(expr)
    return expr
