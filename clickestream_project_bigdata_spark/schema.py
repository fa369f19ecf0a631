"""Canonical schemas for the clickstream engine.

The reference carries **two** inconsistent schemas (SURVEY §1.3): a NiFi Avro
registry schema (`clickstream_project.xml:437-446`) and the Spark job's
all-strings wire `StructType` (`stream_processor.py:41-49`), re-typing via
ad-hoc casts (`stream_processor.py:68-70`). The new engine casts **once** at
the ingest boundary into a single typed canonical schema and every operator
downstream assumes it.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Raw RetailRocket-style CSV schema (reference `data/test.ipynb`, FIXTURES §1).
RAW_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType(), False),  # epoch millis
        T.StructField("visitorid", T.LongType(), False),
        T.StructField("event", T.StringType(), False),
        T.StructField("itemid", T.LongType(), True),
        T.StructField("transactionid", T.LongType(), True),
    ]
)

#: Post-NiFi wire schema — 7 string fields, matching the reference Spark job's
#: declared StructType (`stream_processor.py:41-49`). Used only at the Kafka /
#: JSON boundary; never inside operators.
WIRE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("visitorid", T.StringType(), True),
        T.StructField("event", T.StringType(), True),
        T.StructField("itemid", T.StringType(), True),
        T.StructField("transactionid", T.StringType(), True),
        T.StructField("event_category", T.StringType(), True),
        T.StructField("unix_timestamp", T.StringType(), True),
    ]
)

#: Canonical typed event schema (SURVEY §1.6) — what every operator consumes.
CANONICAL_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("visitorid", T.LongType(), False),
        T.StructField("event", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("itemid", T.LongType(), True),
        T.StructField("transactionid", T.LongType(), True),
        T.StructField("event_category", T.StringType(), True),
        T.StructField("unix_timestamp", T.LongType(), True),  # original epoch ms
    ]
)
