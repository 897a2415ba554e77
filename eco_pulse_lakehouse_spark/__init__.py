"""eco_pulse_lakehouse_spark — a PySpark-native analytics engine.

A clean-room, Spark-first rebuild of the query/data-processing
capabilities of the ``raulJD13/eco-pulse-lakehouse`` reference
(a PySpark+Delta lambda-architecture wildfire lakehouse), extended
with large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns).

Design principles (see SURVEY.md):
  * DataFrame/SQL declarative plans — let Catalyst optimize.
  * No row-at-a-time Python UDFs on the hot path; Arrow-batched
    pandas UDFs only where built-ins can't express the semantics.
  * Broadcast small dims, grid-bucket spatial joins, AQE on.
  * Parquet storage (the reference's Delta tables are the
    exactly-once upgrade path; delta-spark is not installed here).
"""

from eco_pulse_lakehouse_spark.session import get_session

__all__ = ["get_session"]
__version__ = "0.1.0"
