"""Sink contracts, against a REAL in-process JDBC database (embedded Derby
ships in Spark's jars): the idempotent JDBC sink must absorb foreachBatch
replays; plain append must reproduce the reference's at-least-once
semantics (duplicates on replay)."""

from __future__ import annotations

import pytest

from clickestream_project_bigdata_spark.streaming.sinks import JdbcSink

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture()
def derby_url(tmp_path):
    return f"jdbc:derby:{tmp_path}/derbydb;create=true"


def _frame(spark, rows):
    return spark.createDataFrame(rows, "minute string, events_count long")


def _count(spark, url, table):
    return (
        spark.read.jdbc(url, table, properties={"driver": DERBY_DRIVER}).count()
    )


def test_jdbc_sink_idempotent_replay(spark, derby_url):
    """A replayed batch leaves row counts unchanged; distinct batches
    accumulate; rows carry their batch_id."""
    sink = JdbcSink(derby_url, {"driver": DERBY_DRIVER}, idempotent=True)
    b0 = _frame(spark, [("m1", 5), ("m2", 7), ("m3", 1)])

    sink.write(b0, "events_per_minute", batch_id=0)
    assert _count(spark, derby_url, "events_per_minute") == 3

    sink.write(b0, "events_per_minute", batch_id=0)  # foreachBatch retry
    assert _count(spark, derby_url, "events_per_minute") == 3  # unchanged

    sink.write(_frame(spark, [("m4", 2)]), "events_per_minute", batch_id=1)
    assert _count(spark, derby_url, "events_per_minute") == 4

    got = spark.read.jdbc(
        derby_url, "events_per_minute", properties={"driver": DERBY_DRIVER}
    )
    assert set(got.columns) == {"minute", "events_count", "batch_id"}
    by_batch = {
        r["batch_id"]: r["n"]
        for r in got.groupBy("batch_id").agg({"*": "count"})
        .withColumnRenamed("count(1)", "n")
        .collect()
    }
    assert by_batch == {0: 3, 1: 1}


def test_jdbc_sink_replay_with_different_rows_replaces(spark, derby_url):
    """A retried batch whose recomputation differs (e.g. code change between
    attempts) REPLACES its previous delivery instead of mixing both."""
    sink = JdbcSink(derby_url, {"driver": DERBY_DRIVER}, idempotent=True)
    sink.write(_frame(spark, [("m1", 5), ("m2", 7)]), "t", batch_id=3)
    sink.write(_frame(spark, [("m1", 6)]), "t", batch_id=3)
    got = spark.read.jdbc(derby_url, "t", properties={"driver": DERBY_DRIVER}).collect()
    assert [(r["minute"], r["events_count"]) for r in got] == [("m1", 6)]


def test_jdbc_sink_plain_append_duplicates_on_replay(spark, derby_url):
    """Reference semantics preserved when idempotence is off: replaying the
    batch doubles the rows (the documented at-least-once flaw)."""
    sink = JdbcSink(derby_url, {"driver": DERBY_DRIVER})
    b0 = _frame(spark, [("m1", 5), ("m2", 7)])
    sink.write(b0, "appendonly", batch_id=0)
    sink.write(b0, "appendonly", batch_id=0)
    assert _count(spark, derby_url, "appendonly") == 4


def test_run_all_analyses_into_idempotent_jdbc(spark, make_events, derby_url):
    """The full 10-sink fan-out lands in a real JDBC database; replaying the
    same micro-batch (foreachBatch retry semantics) changes nothing."""
    from clickestream_project_bigdata_spark.streaming.driver import run_all_analyses

    events = make_events(
        [
            (1, "2024-01-01T00:00:00", "view", 10),
            (1, "2024-01-01T00:00:30", "addtocart", 10),
            (2, "2024-01-01T00:01:00", "view", 11),
        ]
    )
    sink = JdbcSink(
        derby_url, {"driver": DERBY_DRIVER}, idempotent=True, array_mode="json"
    )
    run_all_analyses(events, 0, sink)
    first = {
        t: _count(spark, derby_url, t)
        for t in ("sessions", "events_per_minute", "funnel_analysis", "top_items")
    }
    assert first["sessions"] == 2 and first["funnel_analysis"] == 1
    run_all_analyses(events, 0, sink)  # replay
    second = {t: _count(spark, derby_url, t) for t in first}
    assert second == first


def test_orc_roundtrip(spark, tmp_path):
    """ORC source/sink coverage: schema and values survive a roundtrip
    (Spark's built-in ORC datasource — second columnar format beside
    parquet)."""
    from clickestream_project_bigdata_spark.sources.readers import events_from_fixture

    ev = events_from_fixture(spark, "/root/testdata/sf0.001")
    p = str(tmp_path / "events_orc")
    ev.write.orc(p)
    back = spark.read.orc(p)
    assert back.schema == ev.schema
    assert sorted(map(tuple, ev.collect())) == sorted(map(tuple, back.collect()))
