"""Batch + streaming sources.

Reference sources (SURVEY §2.1): CSV file scan (S1, `producer.py:28-34`),
Kafka consumer (S3/S5, `stream_processor.py:55-60`). The new engine reads the
same shapes through Spark's native readers so Catalyst gets pushdown/pruning
for free, and adds Parquet (the test fixtures' format and the only sane format
at 100 TB).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import RAW_EVENT_SCHEMA, WIRE_EVENT_SCHEMA

def read_raw_events_csv(spark: SparkSession, path: str) -> DataFrame:
    """RetailRocket-style events.csv (reference S1, `producer.py:28-34`).

    The reference iterates rows in Python; here the CSV scan is distributed
    and schema-typed at the source.
    """
    return spark.read.csv(path, header=True, schema=RAW_EVENT_SCHEMA)


def read_raw_events_json(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines shaped like the producer's Kafka payload (`producer.py:21`)."""
    return spark.read.schema(WIRE_EVENT_SCHEMA).json(path)


def read_events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the fixture `events` parquet, normalizing ``ts`` to a session-TZ
    TimestampType column regardless of fixture vintage:

    * TIMESTAMP(NANOS) fixtures (pandas datetime64[ns]) are rejected by
      Spark's vectorized reader — the runtime-settable legacy conf reads the
      nanos as long, converted losslessly to microseconds (values are
      µs-aligned; cheap integer math either way);
    * TIMESTAMP(MICROS) fixtures arrive as TIMESTAMP_NTZ and are cast to
      TimestampType (identical instants with the session TZ pinned to UTC).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def events_from_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver fixture `events` table onto the canonical clickstream.

    Fixture schema (TESTDATA.md): event_id, ts, user_id, event_type, value,
    props (JSON string like ``{"k": 87}``). Mapping per FIXTURES §4:
    ``user_id→visitorid``, ``event_type→event``, ``ts→event_time`` and the
    props payload's ``k`` as the item id. The itemid extraction stays
    JVM-side (``regexp_extract``) — no Python in the scan path.
    """
    df = read_events_table(spark, sf_dir)
    return df.select(
        F.col("user_id").alias("visitorid"),
        F.col("event_type").alias("event"),
        F.col("ts").alias("event_time"),
        F.regexp_extract(F.col("props"), r"(\d+)", 1).cast("long").alias("itemid"),
        F.col("event_id"),
        F.col("value"),
    )


# ---------------------------------------------------------------------------
# Streaming sources
# ---------------------------------------------------------------------------

def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka streaming source (reference S5, `stream_processor.py:55-60`).

    Requires the spark-sql-kafka package on the classpath (not bundled in
    this container); the call itself is pure configuration.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def parse_kafka_wire(kafka_df: DataFrame) -> DataFrame:
    """key/value bytes → wire columns (reference P1-P3, `stream_processor.py:62-65`)."""
    return kafka_df.select(
        F.col("key").cast("string").alias("session_key"),
        F.from_json(F.col("value").cast("string"), WIRE_EVENT_SCHEMA).alias("value"),
    ).select("session_key", "value.*")


def explode_json_array(df: DataFrame, json_col: str = "value") -> DataFrame:
    """NiFi SplitJson N1 (`clickstream_project.xml:812,776`): a payload that
    is a JSON *array* of records (the NiFi writer's ``output-array`` grouping)
    exploded into one wire-schema row per element — one from_json + explode,
    no per-record Python."""
    arr = F.from_json(F.col(json_col).cast("string"), T.ArrayType(WIRE_EVENT_SCHEMA))
    return df.select(F.explode(arr).alias("r")).select("r.*")


def read_json_stream(spark: SparkSession, path: str, max_files: int = 10) -> DataFrame:
    """File-based streaming source with the wire schema — the test stand-in
    for Kafka (same downstream plan, different source node)."""
    return (
        spark.readStream.schema(WIRE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .json(path)
    )


#: canonical clickstream schema (the shape events_from_fixture produces and
#: every streaming operator consumes)
CANON_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("visitorid", T.LongType()),
        T.StructField("event", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("itemid", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def events_stream_from_chunks(
    spark: SparkSession, path: str, max_files: int = 1
) -> DataFrame:
    """Parquet file-stream twin of :func:`events_from_fixture`: reads a
    directory of already-canonical, time-ordered parquet chunk files (one
    chunk per micro-batch with ``maxFilesPerTrigger=1``) — the replay
    harness ``tools/stream_scale.py`` uses to push a whole fixture through
    the session-window operators as a 50+-batch stream. The chunk writer stamps
    strictly increasing mtimes so the FileStreamSource's (mtime, path)
    order IS event-time order; the operators' watermark still absorbs
    intra-chunk disorder."""
    return (
        spark.readStream.schema(CANON_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )
