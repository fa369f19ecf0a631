"""clickestream_project_bigdata_spark — a PySpark-native analytics engine with
the query and data-processing capabilities of
`OmarAymanZaid/clickestream_project_BigData`, re-expressed Spark-first.

Layout:
* ``session``   — tuned SparkSession factory (AQE, UTC, Arrow).
* ``schema``    — canonical typed event schema (casts once at ingest).
* ``sources``   — parquet/CSV/JSON batch readers, Kafka + file streaming.
* ``operators`` — cleanse, sessionize, the 10 reference analyses and the
  further event analyses behind the query registry.
* ``streaming`` — foreachBatch driver (reference-compatible) and the
  watermarked/session_window-based improved mode; pluggable sinks.
* ``plans``     — plan-audit helpers (exchange/join-count assertions) and
  skew diagnostics.
"""

from .session import get_spark

__all__ = ["get_spark"]
