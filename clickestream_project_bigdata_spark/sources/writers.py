"""Kafka-shaped writers (reference S2/S4).

The reference producer JSON-serializes each record and keys the Kafka message
by ``visitorid`` (`/root/reference/producer.py:21,41-45`) — deliberate
pre-partitioning so one user's events land in one partition. The NiFi flow
republishes cleansed records transactionally (S4,
`clickstream_project.xml:1478,1375-1376`). Both map to one wire transform +
Spark's Kafka sink; the transform is pure DataFrame code and fully testable
without a broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def to_kafka_wire(df: DataFrame, key_col: str = "visitorid") -> DataFrame:
    """Record → (key, value) Kafka wire shape: JSON-serialized row keyed by
    ``key_col`` (reference `producer.py:21,41-45`). ``to_json(struct(*))`` is
    a single codegen'd projection — no Python serializer in the path."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )


def write_kafka_batch(
    df: DataFrame, brokers: str, topic: str, key_col: str = "visitorid"
) -> None:
    """Batch replay of a frame into Kafka — the distributed equivalent of the
    reference's single-process throttled producer (`producer.py:28-60`), minus
    the artificial 0.1 s/event sleep: every partition publishes in parallel.
    Requires spark-sql-kafka on the classpath."""
    (
        to_kafka_wire(df, key_col)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .save()
    )


def write_kafka_stream(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint_location: str,
    key_col: str = "visitorid",
) -> StreamingQuery:
    """Streaming publish (reference S4 — NiFi PublishKafkaRecord with
    transactions + acks=all). Spark's Kafka sink with checkpointing gives
    at-least-once with an idempotent producer; exactly-once needs the
    downstream consumer to dedupe on (topic, partition, offset)."""
    return (
        to_kafka_wire(df, key_col)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )

