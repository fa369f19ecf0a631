"""Streaming semantics tests (SURVEY §5.3).

* batch-vs-stream equivalence: the foreachBatch fan-out over a one-batch
  stream must reproduce the batch operators bit-for-bit;
* per-batch vs stateful sessionization (T6): a session straddling a
  micro-batch boundary is SPLIT by the reference-compatible mode and MERGED
  by the ``session_window`` mode — both pinned;
* session-window gap boundary: the streaming session operators split on the
  batch operator's rule — floored-second gap strictly ``> gap`` (SURVEY §7d).
"""

from __future__ import annotations

import json
import os

import pytest

from clickestream_project_bigdata_spark.operators import analytics
from clickestream_project_bigdata_spark.operators.cleanse import canonicalize
from clickestream_project_bigdata_spark.operators.sessionize import (
    session_metrics,
    sessionize,
)
from clickestream_project_bigdata_spark.sources.readers import read_json_stream
from clickestream_project_bigdata_spark.streaming import (
    MemorySink,
    start_stream,
    stateful_session_metrics,
)

BASE_MS = 1700000000000  # 2023-11-14 22:13:20 UTC


def wire_record(visitorid: int, offset_s: int, event: str, itemid: int) -> dict:
    ms = BASE_MS + offset_s * 1000
    return {
        "timestamp": "ignored",
        "visitorid": str(visitorid),
        "event": event,
        "itemid": str(itemid),
        "transactionid": None,
        "event_category": "Low Value" if event == "view" else "High Value",
        "unix_timestamp": str(ms),
    }


def write_batch_files(tmp_path, batches: list[list[dict]]) -> str:
    src = tmp_path / "stream_src"
    src.mkdir()
    for i, batch in enumerate(batches):
        p = src / f"batch_{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in batch))
        # distinct mtimes: the file source orders micro-batches by
        # modification time, and same-ms writes make the order arbitrary
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    return str(src)


def drain(spark, tmp_path, batches, **kwargs) -> MemorySink:
    """Run the full fan-out over file-per-micro-batch input, return the sink."""
    path = write_batch_files(tmp_path, batches)
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    sink = MemorySink()
    q = start_stream(
        stream,
        sink,
        checkpoint_location=str(tmp_path / "ckpt"),
        available_now=True,
        **kwargs,
    )
    q.awaitTermination(120)
    return sink


@pytest.fixture()
def one_batch_events():
    return [
        wire_record(1, 0, "view", 10),
        wire_record(1, 60, "click", 10),
        wire_record(1, 5000, "view", 11),  # > 1800 s gap → second session
        wire_record(2, 30, "view", 10),
        wire_record(2, 90, "purchase", 12),
    ]


def test_stream_matches_batch_operators(spark, tmp_path, one_batch_events):
    sink = drain(spark, tmp_path, [one_batch_events], funnel_steps=["view", "click", "purchase"])

    # same events through the batch path
    wire_df = spark.createDataFrame(
        [tuple(r[k] for k in r) for r in one_batch_events],
        "timestamp string, visitorid string, event string, itemid string, "
        "transactionid string, event_category string, unix_timestamp string",
    )
    batch = canonicalize(wire_df)

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    def sunk(table, cols):
        return sorted(tuple(r[c] for c in cols) for r in sink.rows(table))

    assert sunk("sessions", ["session_id", "events_in_session", "session_length"]) == rows(
        session_metrics(sessionize(batch)), ["session_id", "events_in_session", "session_length"]
    )
    assert sunk("events_per_minute", ["minute", "events_count"]) == rows(
        analytics.events_per_minute(batch), ["minute", "events_count"]
    )
    assert sunk("bounce_rate", ["minute", "bounces", "total_users"]) == rows(
        analytics.bounce_rate(batch), ["minute", "bounces", "total_users"]
    )
    assert sunk("most_viewed_items", ["itemid", "view_count"]) == rows(
        analytics.most_viewed_items(batch), ["itemid", "view_count"]
    )
    # funnel: one row, reference column order batch_id first
    [funnel] = sink.rows("funnel_analysis")
    assert (funnel["view"], funnel["click"], funnel["purchase"]) == (3, 1, 1)
    assert funnel["batch_id"] == 0


def test_per_batch_sessionization_splits_across_batches(spark, tmp_path):
    """Reference semantics (T6): one 3-event session delivered over two
    micro-batches becomes two session rows with the SAME session_id."""
    sink = drain(
        spark,
        tmp_path,
        [
            [wire_record(7, 0, "view", 1), wire_record(7, 60, "view", 2)],
            [wire_record(7, 120, "purchase", 2)],
        ],
    )
    rows = sorted(sink.rows("sessions"), key=lambda r: r["session_start"])
    assert [r["session_id"] for r in rows] == ["7_1", "7_1"]  # duplicate id
    assert [r["events_in_session"] for r in rows] == [2, 1]


def test_stateful_sessionization_merges_across_batches(spark, tmp_path):
    """session_window mode: the same split delivery yields ONE session."""
    path = write_batch_files(
        tmp_path,
        [
            [wire_record(7, 0, "view", 1), wire_record(7, 60, "view", 2)],
            [wire_record(7, 120, "purchase", 2)],
        ],
    )
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        stateful_session_metrics(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("stateful_sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from stateful_sessions").collect()
    assert len(rows) == 1
    assert rows[0]["events_in_session"] == 3
    assert rows[0]["session_length"] == 120


def test_stateful_session_metrics_out_of_order_cross_batch(spark, tmp_path):
    """A late-but-within-watermark event arriving in a LATER micro-batch with
    an event time EARLIER than the open session must extend the session
    backwards (start = min), never drag the session's last-event time
    backwards: one closed session spanning all four events, keyed by the
    earliest event's epoch, emitted once in append mode when the watermark
    passes its last event + gap."""

    path = write_batch_files(
        tmp_path,
        [
            [wire_record(7, 1000, "view", 1), wire_record(7, 1060, "view", 2)],
            # a late event (t=940, before the open session's start) plus an
            # in-order one (t=1120)
            [wire_record(7, 940, "view", 3), wire_record(7, 1120, "view", 4)],
            # far-future other-user event advances the watermark → timeout
            [wire_record(8, 50_000, "view", 5)],
        ],
    )
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        stateful_session_metrics(stream, gap_seconds=1800, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from late_sessions where visitorid = 7").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["events_in_session"] == 4
    assert r["session_length"] == 180  # 940 → 1120
    assert r["session_id"] == f"7_{BASE_MS // 1000 + 940}"


def test_session_window_gap_boundary(spark, make_events):
    """Exactly-gap spacing: batch `> gap` keeps one session, and Spark's
    session_window MERGES touching windows ([t, t+gap] ∋ t+gap), so both
    modes agree at the boundary; one second past the gap splits in both.
    The gap is measured between second-floored times, so a raw gap just over
    1800 s whose floored gap is exactly 1800 s (00:00:00.100 → 00:30:00.900)
    is ONE session in the batch operator and in every streaming session
    operator."""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.streaming import (
        stateful_session_flags,
        stateful_user_paths,
    )

    def n_windows(events):
        return (
            events.groupBy(F.session_window("event_time", "30 minutes"), "visitorid")
            .count()
            .count()
        )

    def n_sessions(events):
        return [
            session_metrics(sessionize(events, gap_seconds=1800)).count(),
            stateful_session_metrics(events).count(),
            stateful_user_paths(events).count(),
            stateful_session_flags(events).count(),
        ]

    at_gap = make_events(
        [(1, "2024-01-01T00:00:00", "view", 1), (1, "2024-01-01T00:30:00", "view", 2)]
    )
    assert n_sessions(at_gap) == [1, 1, 1, 1]
    assert n_windows(at_gap) == 1

    past_gap = make_events(
        [(1, "2024-01-01T00:00:00", "view", 1), (1, "2024-01-01T00:30:01", "view", 2)]
    )
    assert n_sessions(past_gap) == [2, 2, 2, 2]
    assert n_windows(past_gap) == 2

    sub_second = make_events(
        [
            (1, "2024-01-01T00:00:00.100", "view", 1),
            (1, "2024-01-01T00:30:00.900", "view", 2),
        ]
    )
    assert n_sessions(sub_second) == [1, 1, 1, 1]


def test_stateful_sessionize_custom_operator(spark, tmp_path):
    """The native stateful session operator, written straight to a memory
    sink: a session split across two micro-batches is merged, closed when a
    later batch advances the watermark past last_event + gap, and
    session_id is the stable start-epoch form."""
    path = write_batch_files(
        tmp_path,
        [
            [wire_record(7, 0, "view", 1), wire_record(7, 60, "view", 2)],
            [wire_record(7, 120, "purchase", 2)],
            # far-future event for another user: advances the watermark past
            # user 7's (last + gap), which closes and emits its session
            [wire_record(8, 50_000, "view", 3)],
        ],
    )
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        stateful_session_metrics(stream, gap_seconds=1800, watermark="10 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("custom_sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from custom_sessions").collect()
    assert len(rows) == 1  # user 8's session is still open (no later watermark)
    r = rows[0]
    assert r["visitorid"] == 7
    assert r["events_in_session"] == 3
    assert r["session_length"] == 120
    assert r["session_id"] == f"7_{BASE_MS // 1000}"


def test_kafka_wire_roundtrip(spark, make_events):
    """S2 wire shape: JSON value keyed by visitorid; parse_kafka_wire-style
    read recovers the record (no broker needed for the transform)."""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.schema import WIRE_EVENT_SCHEMA
    from clickestream_project_bigdata_spark.sources import to_kafka_wire

    wire_df = spark.createDataFrame(
        [("2023-11-14 22:13:20", "7", "view", "1", None, "Low Value", str(BASE_MS))],
        WIRE_EVENT_SCHEMA,
    )
    kafka_shaped = to_kafka_wire(wire_df)
    assert kafka_shaped.columns == ["key", "value"]
    back = kafka_shaped.select(
        F.col("key"),
        F.from_json(F.col("value"), WIRE_EVENT_SCHEMA).alias("r"),
    ).select("key", "r.*")
    row = back.collect()[0]
    assert row["key"] == "7" and row["event"] == "view"
    assert row["unix_timestamp"] == str(BASE_MS)


def test_explode_json_array(spark):
    """N1 SplitJson: a JSON-array payload becomes one wire row per element."""
    from clickestream_project_bigdata_spark.sources import explode_json_array

    payload = json.dumps(
        [wire_record(1, 0, "view", 10), wire_record(2, 5, "click", 11)]
    )
    df = spark.createDataFrame([(payload,)], "value string")
    out = explode_json_array(df).collect()
    assert [(r["visitorid"], r["event"]) for r in out] == [("1", "view"), ("2", "click")]


FANOUT_TABLES = {
    "events_per_minute",
    "active_users",
    "event_type_distribution",
    "top_items",
    "bounce_rate",
    "sessions",
    "user_paths",
    "funnel_analysis",
    "item_interactions",
    "most_viewed_items",
}


def canonical_batch(spark, records):
    """One micro-batch frame from wire records, as foreachBatch sees it."""
    wire_df = spark.createDataFrame(
        [tuple(r[k] for k in r) for r in records],
        "timestamp string, visitorid string, event string, itemid string, "
        "transactionid string, event_category string, unix_timestamp string",
    )
    return canonicalize(wire_df)


def test_fanout_matches_direct_analyses(spark, one_batch_events):
    """The concurrent fan-out over the shared persisted frames writes, for
    every table, what the analysis gives when computed directly on the
    calling thread and collected one table at a time."""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.streaming.driver import run_all_analyses

    steps = ["view", "click", "purchase"]
    batch = canonical_batch(spark, one_batch_events)
    sink = MemorySink()
    run_all_analyses(batch, 0, sink, funnel_steps=steps)

    sessionized = sessionize(batch)
    direct = {
        "events_per_minute": analytics.events_per_minute(batch),
        "active_users": analytics.active_users(batch),
        "event_type_distribution": analytics.event_type_distribution(batch),
        "top_items": analytics.top_items(batch),
        "bounce_rate": analytics.bounce_rate(batch),
        "sessions": session_metrics(sessionized),
        "user_paths": analytics.user_paths(sessionized),
        # analysis_time is current_timestamp(), the one column left out
        "funnel_analysis": analytics.funnel_analysis(sessionized, steps).select(
            F.lit(0).alias("batch_id"), *steps
        ),
        "item_interactions": analytics.item_interactions(batch),
        "most_viewed_items": analytics.most_viewed_items(batch),
    }
    assert set(sink.tables) == set(direct) == FANOUT_TABLES
    for table, df in direct.items():
        got = [tuple(r[c] for c in df.columns) for r in sink.rows(table)]
        want = [tuple(r) for r in df.collect()]
        assert sorted(got, key=repr) == sorted(want, key=repr), table


def test_fanout_writes_inherit_caller_local_properties(spark, one_batch_events):
    """Every concurrent write runs with the caller's local properties (the
    streaming query's job group travels this way, so query.stop() can
    cancel the batch's jobs) and the caller's job tags."""
    import threading

    from clickestream_project_bigdata_spark.streaming.driver import run_all_analyses

    key, tag = "clickstream.test.caller", "clickstream-test-caller"

    class RecordingSink:
        def __init__(self):
            self.seen: dict[str, tuple] = {}

        def write(self, df, table, batch_id=None):
            self.seen[table] = (
                spark.sparkContext.getLocalProperty(key),
                tag in spark.getTags(),
                threading.current_thread() is threading.main_thread(),
            )

    sink = RecordingSink()
    spark.sparkContext.setLocalProperty(key, "batch-7")
    spark.addTag(tag)
    try:
        run_all_analyses(canonical_batch(spark, one_batch_events), 7, sink)
    finally:
        spark.sparkContext.setLocalProperty(key, None)
        spark.removeTag(tag)
    assert set(sink.seen) == FANOUT_TABLES
    assert set(sink.seen.values()) == {("batch-7", True, False)}


def test_fanout_failure_reraises_and_releases_caches(spark, one_batch_events):
    """A sink failure on one table is re-raised once every other write has
    finished, and neither persisted frame outlives the call."""
    from clickestream_project_bigdata_spark.streaming.driver import run_all_analyses

    class FailingSink(MemorySink):
        def write(self, df, table, batch_id=None):
            if table == "top_items":
                raise RuntimeError(f"sink down for {table}")
            super().write(df, table, batch_id)

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    sink = FailingSink()
    with pytest.raises(RuntimeError, match="sink down for top_items"):
        run_all_analyses(canonical_batch(spark, one_batch_events), 0, sink)
    assert set(sink.tables) == FANOUT_TABLES - {"top_items"}
    assert jsc.getPersistentRDDs().size() == before


def test_console_sink_tables_do_not_interleave(spark, one_batch_events, capsys):
    """ConsoleSink under the concurrent fan-out: each table's header is
    followed directly by its own rendered table."""
    from clickestream_project_bigdata_spark.streaming import ConsoleSink
    from clickestream_project_bigdata_spark.streaming.driver import run_all_analyses

    run_all_analyses(canonical_batch(spark, one_batch_events), 3, ConsoleSink())
    lines = capsys.readouterr().out.splitlines()
    headers = [i for i, line in enumerate(lines) if line.startswith("=== ")]
    assert {lines[i] for i in headers} == {
        f"=== {table} (batch 3) ===" for table in FANOUT_TABLES
    }
    assert len(headers) == len(FANOUT_TABLES)
    for i in headers:
        assert lines[i + 1].startswith("+-"), lines[i : i + 2]


def test_checkpoint_recovery_processes_only_new_files(spark, tmp_path):
    """Restart-from-checkpoint semantics: a second availableNow run over the
    same checkpoint sees ONLY files added after the first run — batches are
    never reprocessed (source-side exactly-once; pair with the idempotent
    ParquetSink for end-to-end effectively-once)."""
    path = write_batch_files(tmp_path, [[wire_record(1, 0, "view", 10)]])
    ckpt = str(tmp_path / "ckpt_recovery")
    sink = MemorySink()
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = start_stream(stream, sink, ckpt, available_now=True)
    q.awaitTermination(120)
    assert len(sink.rows("sessions")) == 1

    # new file arrives while "down"; restart with the SAME checkpoint
    p = tmp_path / "stream_src" / "batch_99.json"
    p.write_text(json.dumps(wire_record(2, 10, "view", 11)))
    os.utime(p, (2_000_000, 2_000_000))

    sink2 = MemorySink()
    stream2 = canonicalize(read_json_stream(spark, path, max_files=1))
    q2 = start_stream(stream2, sink2, ckpt, available_now=True)
    q2.awaitTermination(120)
    # only visitor 2's batch was processed on restart — visitor 1's batch
    # was committed in the first run and is not replayed
    sessions2 = sink2.rows("sessions")
    assert len(sessions2) == 1
    assert sessions2[0]["visitorid"] == 2


def test_start_stateful_sessions_sink_driver(spark, tmp_path):
    """The stateful-session production driver: a session split across two
    micro-batches is merged, closed when a later batch advances the
    watermark past last_event + gap, lands in the sink exactly once, and
    its session_id is the stable start-epoch form."""
    from clickestream_project_bigdata_spark.streaming import (
        MemorySink,
        start_stateful_sessions,
    )

    path = write_batch_files(
        tmp_path,
        [
            [wire_record(7, 0, "view", 1), wire_record(7, 60, "view", 2)],
            [wire_record(7, 120, "purchase", 2)],
            [wire_record(8, 50_000, "view", 3)],  # advances watermark → closes 7's
        ],
    )
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    sink = MemorySink()
    q = start_stateful_sessions(
        stream,
        sink,
        str(tmp_path / "ckpt_ss"),
        watermark="10 seconds",
        available_now=True,
    )
    q.awaitTermination(120)
    rows = sink.rows("sessions")
    assert len(rows) == 1  # user 8's session is still open (no later watermark)
    r = rows[0]
    assert r["visitorid"] == 7
    assert r["events_in_session"] == 3
    assert r["session_length"] == 120
    assert r["session_id"] == f"7_{BASE_MS // 1000}"


def test_run_all_analyses_empty_batch(spark):
    """foreachBatch receives empty frames on idle triggers — the fan-out
    must write empty (not crash) for every table."""
    from clickestream_project_bigdata_spark.schema import CANONICAL_EVENT_SCHEMA
    from clickestream_project_bigdata_spark.streaming import MemorySink
    from clickestream_project_bigdata_spark.streaming.driver import run_all_analyses

    empty = spark.createDataFrame([], CANONICAL_EVENT_SCHEMA)
    sink = MemorySink()
    run_all_analyses(empty, 5, sink)
    assert sink.rows("sessions") == []
    # the global funnel agg emits one all-zero row even on empty input —
    # same as the reference's sum-over-empty
    [funnel] = sink.rows("funnel_analysis")
    assert funnel["batch_id"] == 5


def test_run_pipeline_end_to_end_with_quarantine(spark):
    """Whole-reference-pipeline composition: raw records → cleanse (invalid
    rows to the quarantine table) → canonical typing → 10-analysis fan-out."""
    from clickestream_project_bigdata_spark.streaming import MemorySink
    from clickestream_project_bigdata_spark.streaming.driver import run_pipeline

    raw = spark.createDataFrame(
        [
            (BASE_MS, 1, "view", 10, None),
            (BASE_MS + 60_000, 1, "addtocart", 10, None),
            (BASE_MS + 90_000, 2, "view", None, None),  # NULL itemid is VALID (N6)
        ],
        "timestamp long, visitorid long, event string, itemid long, transactionid long",
    )
    # empty-string ids arrive on the string path; cast columns to string to test N6
    raw_str = raw.selectExpr(
        "timestamp",
        "cast(visitorid as string) visitorid",
        "event",
        "case when visitorid = 2 then '' else cast(itemid as string) end itemid",
        "cast(transactionid as string) transactionid",
    )
    sink = MemorySink()
    run_pipeline(raw_str, 0, sink, funnel_steps=["view", "addtocart", "transaction"])

    assert len(sink.rows("quarantine")) == 1  # visitor 2's empty-itemid record
    sessions = sink.rows("sessions")
    assert len(sessions) == 1 and sessions[0]["events_in_session"] == 2
    [funnel] = sink.rows("funnel_analysis")
    assert (funnel["view"], funnel["addtocart"], funnel["transaction"]) == (1, 1, 0)


def test_parquet_sink_idempotent(spark, tmp_path, make_events):
    from clickestream_project_bigdata_spark.streaming import ParquetSink

    sink = ParquetSink(str(tmp_path / "out"))
    df = analytics.events_per_minute(
        make_events([(1, "2024-01-01T00:00:10", "view", 1)])
    )
    sink.write(df, "events_per_minute", batch_id=3)
    sink.write(df, "events_per_minute", batch_id=3)  # retry → overwrite, not dup
    out = spark.read.parquet(str(tmp_path / "out/events_per_minute"))
    assert out.count() == 1


def test_stateful_user_paths_and_flags_merge_across_batches(spark, tmp_path):
    """Streaming user_paths / funnel flags over session windows: a session
    delivered across two micro-batches yields ONE ordered path row and ONE
    flags row (the per-batch reference splits both, T6)."""
    from clickestream_project_bigdata_spark.streaming import (
        stateful_session_flags,
        stateful_user_paths,
    )

    path = write_batch_files(
        tmp_path,
        [
            [wire_record(7, 0, "view", 1), wire_record(7, 60, "addtocart", 2)],
            [wire_record(7, 120, "transaction", 2)],
        ],
    )

    for name, op in (("sup", stateful_user_paths), ("ssf", stateful_session_flags)):
        stream = canonicalize(read_json_stream(spark, str(tmp_path / "stream_src"), max_files=1))
        q = (
            op(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    paths = spark.sql("select * from sup").collect()
    assert len(paths) == 1
    assert paths[0]["user_path"] == ["view", "addtocart", "transaction"]
    assert paths[0]["session_id"] == f"7_{BASE_MS // 1000}"

    flags = spark.sql("select * from ssf").collect()
    assert len(flags) == 1
    assert (flags[0]["view"], flags[0]["addtocart"], flags[0]["transaction"]) == (1, 1, 1)


def test_windowed_funnel_chained_stateful(spark, tmp_path):
    """Funnel flags per closed session window, rolled up per tumbling hour
    in append mode (two chained stateful operators; watermark propagated by
    grouping on the session_window struct)."""
    from clickestream_project_bigdata_spark.streaming import windowed_funnel

    path = write_batch_files(
        tmp_path,
        [
            [wire_record(1, 0, "view", 1), wire_record(1, 30, "addtocart", 1)],
            [wire_record(2, 10, "view", 2)],
            # far-future event: closes both sessions AND the hour window
            [wire_record(9, 50_000, "view", 3)],
        ],
    )
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        windowed_funnel(stream, watermark="10 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wfunnel")
        .option("checkpointLocation", str(tmp_path / "wf_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from wfunnel").collect()
    assert len(rows) == 1  # user 9's session/window still open
    r = rows[0]
    assert (r["view"], r["addtocart"], r["transaction"]) == (2, 1, 0)


def test_running_counts_update_mode_matches_batch(spark, tmp_path):
    """Update-mode running per-item counts (analyses 9/10 in their global
    form): each micro-batch emits updated rows only for the keys it touched,
    and the LAST update per key — counts are monotone, so max == last —
    must equal the batch operator over the full input. The same functions
    serve both."""
    batches = [
        [wire_record(1, 0, "view", 10), wire_record(2, 5, "click", 11)],
        [wire_record(1, 60, "view", 10), wire_record(3, 70, "view", 12)],
    ]
    path = write_batch_files(tmp_path, batches)
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    for name, op in [
        ("run_inter", analytics.item_interactions),
        ("run_views", analytics.most_viewed_items),
    ]:
        q = (
            op(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    wire_df = spark.createDataFrame(
        [tuple(r[k] for k in r) for b in batches for r in b],
        "timestamp string, visitorid string, event string, itemid string, "
        "transactionid string, event_category string, unix_timestamp string",
    )
    batch = canonicalize(wire_df)

    inter_updates = spark.sql("select * from run_inter").collect()
    # item 10 was touched in both micro-batches → two update rows for it
    assert len([r for r in inter_updates if r["itemid"] == 10]) == 2
    final_inter = {}
    for r in inter_updates:
        final_inter[r["itemid"]] = max(final_inter.get(r["itemid"], 0), r["interaction_count"])
    assert final_inter == {
        r["itemid"]: r["interaction_count"]
        for r in analytics.item_interactions(batch).collect()
    }

    final_views = {}
    for r in spark.sql("select * from run_views").collect():
        final_views[r["itemid"]] = max(final_views.get(r["itemid"], 0), r["view_count"])
    assert final_views == {
        r["itemid"]: r["view_count"]
        for r in analytics.most_viewed_items(batch).collect()
    }


def test_dedup_events_stream_drops_cross_batch_redeliveries(spark, tmp_path):
    """The same event delivered in two micro-batches (at-least-once source)
    must survive exactly once; distinct events pass through untouched."""
    from clickestream_project_bigdata_spark.streaming import dedup_events_stream

    dup = wire_record(1, 0, "view", 10)
    batches = [
        [dup, wire_record(2, 5, "click", 11)],
        [dup, wire_record(1, 60, "view", 10)],  # redelivery + a distinct event
    ]
    path = write_batch_files(tmp_path, batches)
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        dedup_events_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "dd_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select visitorid, event_time, event, itemid from dedup_stream").collect()
    assert len(rows) == 3  # 4 deliveries, 1 duplicate dropped
    keys = sorted((r.visitorid, r.event, r.itemid, r.event_time) for r in rows)
    assert len(set(keys)) == 3


def test_attribution_join_stream_stream(spark, tmp_path):
    """Watermarked stream-stream join: a purchase in a LATER micro-batch
    still attributes to a view within the horizon; outside-horizon and
    other-visitor purchases don't."""
    from clickestream_project_bigdata_spark.streaming import attribution_join

    batches = [
        [wire_record(1, 0, "view", 10), wire_record(2, 0, "view", 20)],
        [
            wire_record(1, 600, "purchase", 10),    # within 30 min of view
            wire_record(2, 5000, "purchase", 20),   # outside horizon
        ],
    ]
    path = write_batch_files(tmp_path, batches)
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    views = stream.filter(stream.event == "view")
    purchases = stream.filter(stream.event == "purchase")
    q = (
        attribution_join(views, purchases, horizon="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib")
        .option("checkpointLocation", str(tmp_path / "aj_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from attrib").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.visitorid, r.view_item, r.purchase_item) == (1, 10, 10)
    assert (r.purchase_time - r.view_time).total_seconds() == 600


def test_attribution_join_outer_emits_unconverted_views(spark, tmp_path):
    """LEFT OUTER stream-stream join: a view with no in-horizon purchase is
    emitted NULL-extended once the watermark proves no match can arrive;
    a view whose horizon the watermark hasn't passed stays in state (not
    emitted)."""
    from clickestream_project_bigdata_spark.streaming import attribution_join_outer

    batches = [
        [wire_record(1, 0, "view", 10), wire_record(2, 0, "view", 20)],
        [
            wire_record(1, 600, "purchase", 10),   # converts view 1
            wire_record(2, 5000, "purchase", 20),  # outside 30-min horizon
        ],
        # watermark pusher: advances event time far past view_time+horizon
        # for the t=0 views, but not past its own horizon
        [wire_record(3, 10000, "view", 30)],
    ]
    path = write_batch_files(tmp_path, batches)
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    views = stream.filter(stream.event == "view")
    purchases = stream.filter(stream.event == "purchase")
    q = (
        attribution_join_outer(
            views, purchases, horizon="30 minutes", watermark="10 seconds"
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib_outer")
        .option("checkpointLocation", str(tmp_path / "ajo_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.visitorid: r for r in spark.sql("select * from attrib_outer").collect()}
    assert rows[1].purchase_item == 10          # converted, inner-style row
    assert rows[2].purchase_item is None        # unconverted, NULL-extended
    assert rows[2].purchase_time is None
    assert 3 not in rows                        # horizon still open -> held in state


def test_start_stream_dedup_within_guards_fanout(spark, tmp_path):
    """With the ingest guard composed in front of start_stream, a
    cross-batch redelivery reaches the analysis fan-out once: per-item
    counts match the deduplicated batch input."""
    from clickestream_project_bigdata_spark.streaming import dedup_events_stream

    dup = wire_record(1, 0, "view", 10)
    batches = [[dup, wire_record(2, 5, "view", 11)], [dup]]
    path = write_batch_files(tmp_path, batches)
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    sink = MemorySink()
    q = start_stream(
        dedup_events_stream(stream, within="1 hour"),
        sink,
        checkpoint_location=str(tmp_path / "ddg_ck"),
        available_now=True,
    )
    q.awaitTermination(120)
    total = {}
    for r in sink.rows("item_interactions"):
        total[r["itemid"]] = total.get(r["itemid"], 0) + r["interaction_count"]
    assert total == {10: 1, 11: 1}  # the redelivered view counted once


def test_conversion_rate_counts_each_view_once(spark):
    """A view with MULTIPLE in-horizon purchases converts once; unconverted
    views land in the denominator."""
    import datetime as dt

    from clickestream_project_bigdata_spark.streaming import conversion_rate_by_item

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    views = spark.createDataFrame(
        [(1, t(0), 10), (2, t(0), 10), (3, t(0), 20)],
        "visitorid long, event_time timestamp, itemid long",
    )
    purchases = spark.createDataFrame(
        [(1, t(60), 10), (1, t(120), 11)],  # two purchases for visitor 1's view
        "visitorid long, event_time timestamp, itemid long",
    )
    got = {r.view_item: (r.n_views, r.n_converted, r.conversion_rate)
           for r in conversion_rate_by_item(views, purchases).collect()}
    assert got[10] == (2, 1, 0.5)   # visitor 1 converted (once), visitor 2 not
    assert got[20] == (1, 0, 0.0)


def test_windowed_conversion_rate_streaming_chain(spark, tmp_path):
    """The three-stage stateful chain (outer join -> per-view flag ->
    windowed rollup) emits a window once the GLOBAL watermark closes it.
    NB the global watermark is the min across BOTH inputs' watermark
    nodes, so the pushers must advance views AND purchases — a view-only
    pusher leaves the purchase side's watermark (and thus everything
    downstream) stuck."""
    from clickestream_project_bigdata_spark.streaming import windowed_conversion_rate

    batches = [
        [wire_record(1, 0, "view", 10), wire_record(2, 0, "view", 10)],
        [wire_record(1, 600, "purchase", 10)],
        # pushers on BOTH sides, spread over batches so no-data batches
        # cascade the watermark through all three stateful operators
        [wire_record(9, 50_000, "view", 99), wire_record(9, 50_000, "purchase", 99)],
        [wire_record(9, 90_000, "view", 98), wire_record(9, 90_000, "purchase", 98)],
        [wire_record(9, 130_000, "view", 97), wire_record(9, 130_000, "purchase", 97)],
    ]
    path = write_batch_files(tmp_path, batches)
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        windowed_conversion_rate(
            stream.filter(stream.event == "view"),
            stream.filter(stream.event == "purchase"),
            horizon="30 minutes",
            watermark="10 seconds",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wconv_stream")
        .option("checkpointLocation", str(tmp_path / "wconv_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = {r.view_item: r for r in spark.sql("select * from wconv_stream").collect()}
    assert rows[10].n_views == 2 and rows[10].n_converted == 1
    assert rows[10].conversion_rate == 0.5
    assert 97 not in rows  # its window is still open at the final watermark


def test_round6_analytics_foreachbatch_parity(spark, tmp_path, one_batch_events):
    """The round-6 batch analytics (anomalies, bot flags, seasonality,
    timed funnel) run unchanged inside a foreachBatch micro-batch and
    reproduce the batch path exactly — the deployment mode the reference
    uses for ALL its analyses."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        bot_flags,
        hourly_seasonality,
        minute_anomalies,
        timed_funnel,
    )

    path = write_batch_files(tmp_path, [one_batch_events])
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    got: dict[str, list] = {}

    def fb(df, batch_id):
        got["anom"] = sorted(
            (r.minute, r.events_count) for r in minute_anomalies(df).collect()
        )
        got["bots"] = sorted(
            (r.visitorid, r.total_events, r.peak_per_minute)
            for r in bot_flags(df).collect()
        )
        got["season"] = sorted(
            (r.dow, r.hour, r.events_count) for r in hourly_seasonality(df).collect()
        )
        got["funnel"] = [
            (r.users_step1, r.users_step2, r.users_step3)
            for r in timed_funnel(df).collect()
        ]

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "fb_ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "micro-batch did not finish within 120s"

    batch = canonicalize(
        spark.createDataFrame(
            [tuple(r[k] for k in r) for r in one_batch_events],
            "timestamp string, visitorid string, event string, itemid string, "
            "transactionid string, event_category string, unix_timestamp string",
        )
    )
    assert got["anom"] == sorted(
        (r.minute, r.events_count) for r in minute_anomalies(batch).collect()
    )
    assert got["bots"] == sorted(
        (r.visitorid, r.total_events, r.peak_per_minute)
        for r in bot_flags(batch).collect()
    )
    assert got["season"] == sorted(
        (r.dow, r.hour, r.events_count) for r in hourly_seasonality(batch).collect()
    )
    assert got["funnel"] == [
        (r.users_step1, r.users_step2, r.users_step3)
        for r in timed_funnel(batch).collect()
    ]


def test_decayed_item_counts_cross_batch_decay(spark, tmp_path):
    """Decayed heavy hitters: counts decay by exp between events ACROSS
    micro-batches; raw counts keep the lifetime total. Hand-computed decay
    with half-life 3600s over events at t=0, 3600, 7200 for item 10:
    after t=0: 1.0; t=3600: 1*0.5+1 = 1.5; t=7200: 1.5*0.5+1 = 1.75."""
    import math

    from clickestream_project_bigdata_spark.streaming import decayed_item_counts

    path = write_batch_files(
        tmp_path,
        [
            [wire_record(1, 0, "view", 10)],
            [wire_record(2, 3600, "view", 10), wire_record(2, 3600, "view", 20)],
            [wire_record(3, 7200, "view", 10)],
        ],
    )
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        decayed_item_counts(stream, half_life_s=3600.0, watermark="10 hours")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("decayed")
        .option("checkpointLocation", str(tmp_path / "ckpt_decay"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql(
        "select * from decayed"
    ).collect()
    # memory sink in update mode appends each emission; take the LAST per item
    last = {}
    for r in sorted(rows, key=lambda r: r["raw_events"]):
        last[r["itemid"]] = r
    assert last[10]["raw_events"] == 3
    assert abs(last[10]["decayed_count"] - 1.75) < 1e-9
    assert last[20]["raw_events"] == 1
    assert abs(last[20]["decayed_count"] - 1.0) < 1e-12
    # same-timestamp events add without decay: exp(0) = 1 exactly
    assert math.isclose(last[10]["decayed_count"], 1.75)


def test_trending_items_matches_streaming_decay(spark, tmp_path):
    """The batch closed form (Σ exp(-λ(t_last − tᵢ))) equals the streaming
    stateful fold (d·e^{-λΔ}+1) to float accuracy, across micro-batches."""
    import math

    from clickestream_project_bigdata_spark.operators.analytics import trending_items
    from clickestream_project_bigdata_spark.streaming import decayed_item_counts

    batches = [
        [wire_record(1, 0, "view", 10), wire_record(1, 500, "view", 10)],
        [wire_record(2, 2000, "view", 10), wire_record(2, 2500, "view", 20)],
        [wire_record(3, 9000, "view", 10), wire_record(3, 9001, "view", 20)],
    ]
    path = write_batch_files(tmp_path, batches)
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    lam = math.log(2.0) / 3600.0
    q = (
        decayed_item_counts(stream, half_life_s=3600.0, watermark="10 hours")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("decay_parity")
        .option("checkpointLocation", str(tmp_path / "ckpt_parity"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    stream_rows = spark.sql("select * from decay_parity").collect()
    last = {}
    for r in sorted(stream_rows, key=lambda r: r["raw_events"]):
        last[r["itemid"]] = r

    batch = canonicalize(
        spark.createDataFrame(
            [tuple(r[k] for k in r) for b in batches for r in b],
            "timestamp string, visitorid string, event string, itemid string, "
            "transactionid string, event_category string, unix_timestamp string",
        )
    )
    for r in trending_items(batch, lam_per_s=lam).collect():
        s = last[r.itemid]
        assert s.raw_events == r.raw_events
        assert abs(s.decayed_count - r.decayed_count) < 1e-6, (r.itemid, s, r)


def test_decayed_item_counts_late_event_never_regresses_anchor(spark, tmp_path):
    """A late (within-watermark) event arriving in a LATER batch joins as
    already-decayed mass at the CURRENT anchor: decayed_count stays <=
    raw_events, last_event_time never regresses, and the value equals the
    batch closed form."""
    import math

    from clickestream_project_bigdata_spark.streaming import decayed_item_counts

    path = write_batch_files(
        tmp_path,
        [
            [wire_record(1, 3600, "view", 10)],
            [wire_record(2, 1800, "view", 10)],  # 30 min LATE vs the anchor
        ],
    )
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        decayed_item_counts(stream, half_life_s=3600.0, watermark="10 hours")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("late_decay")
        .option("checkpointLocation", str(tmp_path / "ckpt_late_decay"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select * from late_decay").collect()
    final = max(rows, key=lambda r: r["raw_events"])
    lam = math.log(2.0) / 3600.0
    expect = 1.0 + math.exp(-lam * 1800)  # closed form as of t=3600
    assert abs(final["decayed_count"] - expect) < 1e-9
    assert final["decayed_count"] <= final["raw_events"]
    # anchor stayed at the max event time
    assert final["last_event_time"].timestamp() * 1000 == BASE_MS + 3600 * 1000


def test_novel_items_stream_emits_each_item_once(spark, tmp_path):
    """Cross-batch novelty: batch 1 introduces {10, 11}; batch 2 repeats
    10 and introduces 12 → only 12 is emitted in batch 2; nothing is ever
    emitted twice."""
    from clickestream_project_bigdata_spark.streaming.sessions import (
        novel_items_stream,
    )

    path = write_batch_files(
        tmp_path,
        [
            [wire_record(1, 0, "view", 10), wire_record(1, 60, "view", 11)],
            [wire_record(2, 120, "view", 10), wire_record(2, 180, "view", 12)],
        ],
    )
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        novel_items_stream(stream)
        .writeStream.format("memory")
        .queryName("novel_items")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_novel"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("novel_items").collect()
    assert sorted(r.itemid for r in rows) == [10, 11, 12]
    # batch semantics on the same data: same item set (first-occurrence
    # row choice is arbitrary in batch mode; identity set is the contract)
    batch = canonicalize(spark.read.json(path))
    assert sorted(r.itemid for r in novel_items_stream(batch).collect()) == [10, 11, 12]


def test_windowed_binned_quantiles_matches_batch(spark, tmp_path):
    """Streaming per-window histogram quantiles equal the batch operator
    applied to each window's slice — the mergeable-histogram contract;
    the second micro-batch only affects its own window."""
    import datetime as dt

    from clickestream_project_bigdata_spark.operators.analytics import (
        binned_quantiles,
    )
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.streaming.sessions import (
        windowed_binned_quantiles,
    )

    rows = [
        # minute 0: values 0..5
        *[(1, dt.datetime(2024, 1, 1, 0, 0, i), i, "view", float(i)) for i in range(6)],
        # minute 1: values 10, 20, 30
        *[(1, dt.datetime(2024, 1, 1, 0, 1, i), 10 + i, "view", float(10 * (i + 1))) for i in range(3)],
    ]
    ev = spark.createDataFrame(
        rows,
        "visitorid long, event_time timestamp, event_id long, event string, value double",
    )
    got = {
        str(r.minute): r
        for r in windowed_binned_quantiles(ev, duration="1 minute").collect()
    }
    assert len(got) == 2
    for minute, r in got.items():
        lo = dt.datetime.fromisoformat(minute)
        window_slice = ev.filter(
            (F.col("event_time") >= F.lit(lo))
            & (F.col("event_time") < F.lit(lo + dt.timedelta(minutes=1)))
        )
        b = binned_quantiles(window_slice).collect()[0]
        assert (r.n_values, r.q50_lo, r.q90_lo, r.q99_lo) == (
            b.n_values,
            b.q50_lo,
            b.q90_lo,
            b.q99_lo,
        )


def test_stateful_funnel_cross_batch_progression(spark, tmp_path):
    """Funnel progresses ACROSS batches: u1 views in batch 1, clicks in
    batch 2, purchases in batch 3 -> steps_reached climbs 1, 2, 3. u2
    purchases before ever viewing -> the purchase's first touch precedes
    the view's, so it never counts (first-touch ordering)."""
    from clickestream_project_bigdata_spark.streaming import stateful_funnel

    path = write_batch_files(
        tmp_path,
        [
            [wire_record(1, 100, "view", 1), wire_record(2, 50, "purchase", 1)],
            [wire_record(1, 200, "click", 1), wire_record(2, 300, "view", 1)],
            [wire_record(1, 400, "purchase", 1)],
        ],
    )
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        stateful_funnel(stream, ["view", "click", "purchase"], watermark="10 hours")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sfunnel")
        .option("checkpointLocation", str(tmp_path / "ckpt_sfunnel"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select * from sfunnel").collect()
    last = {}
    for r in sorted(rows, key=lambda r: r["n_events"]):
        last[r["visitorid"]] = r
    assert last[1]["steps_reached"] == 3 and last[1]["n_events"] == 3
    t = last[1]["step_times"]
    assert [(b - a).total_seconds() for a, b in zip(t, t[1:])] == [100.0, 200.0]
    # u2: purchase@50 < view@300 -> only the view counts
    assert last[2]["steps_reached"] == 1


def test_stateful_funnel_batch_split_invariant(spark, tmp_path):
    """The same events under DIFFERENT batch splits (including a later-step
    event arriving in an earlier batch) land on the identical final state —
    the min-fold order-independence contract."""
    from clickestream_project_bigdata_spark.streaming import stateful_funnel

    events = [
        wire_record(1, 500, "purchase", 1),
        wire_record(1, 100, "view", 1),
        wire_record(1, 300, "click", 1),
        wire_record(1, 700, "view", 1),
    ]
    finals = []
    for split_name, batches in [
        ("one", [events]),
        ("rev", [[events[0]], [events[3], events[2]], [events[1]]]),
    ]:
        (tmp_path / split_name).mkdir(exist_ok=True)
        path = write_batch_files(tmp_path / split_name, batches)
        stream = canonicalize(read_json_stream(spark, path, max_files=1))
        q = (
            stateful_funnel(stream, ["view", "click", "purchase"], watermark="10 hours")
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(f"sf_{split_name}")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{split_name}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        rows = spark.sql(f"select * from sf_{split_name}").collect()
        final = max(rows, key=lambda r: r["n_events"])
        finals.append(
            (final["steps_reached"], list(final["step_times"]), final["n_events"])
        )
    assert finals[0] == finals[1]
    assert finals[0][0] == 3  # view@100 <= click@300 <= purchase@500


def test_stateful_funnel_matches_batch_first_touch(spark, tmp_path):
    """The streaming stateful funnel's final per-visitor state equals the
    batch first_touch_funnel over the union of all batches — the
    stream/batch equivalence contract for the funnel family."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        first_touch_funnel,
    )
    from clickestream_project_bigdata_spark.streaming import stateful_funnel

    batches = [
        [wire_record(1, 100, "view", 1), wire_record(2, 50, "purchase", 1)],
        [wire_record(1, 300, "click", 1), wire_record(2, 200, "view", 1),
         wire_record(3, 10, "view", 1)],
        [wire_record(1, 900, "purchase", 1), wire_record(2, 400, "click", 1)],
    ]
    steps = ["view", "click", "purchase"]
    path = write_batch_files(tmp_path, batches)
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        stateful_funnel(stream, steps, watermark="10 hours")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sf_eq")
        .option("checkpointLocation", str(tmp_path / "ckpt_sf_eq"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    latest = {}
    for r in spark.sql("select * from sf_eq").collect():
        if r["visitorid"] not in latest or r["n_events"] > latest[r["visitorid"]]["n_events"]:
            latest[r["visitorid"]] = r
    allrec = [r for b in batches for r in b]
    wire_df = spark.createDataFrame(
        [tuple(r[k] for k in r) for r in allrec],
        "timestamp string, visitorid string, event string, itemid string, "
        "transactionid string, event_category string, unix_timestamp string",
    )
    batch_df = canonicalize(wire_df)
    expect = {r["visitorid"]: r for r in first_touch_funnel(batch_df, steps).collect()}
    assert set(latest) == set(expect)
    for v, e in expect.items():
        s = latest[v]
        assert s["steps_reached"] == e["steps_reached"], v
        times = [e[f"{st}_time"] for st in steps][: e["steps_reached"]]
        assert list(s["step_times"]) == times, v


def test_stateful_funnel_ttl_expiry_exactly_once_then_fresh(spark, tmp_path):
    """TTL mode (VERDICT r11 #4): a visitor inactive past ttl_s of event
    time expires — their final row is emitted EXACTLY once with
    expired=True, carrying the same values as their last live emission;
    a later event re-enters them as a FRESH visitor (n_events restarts)."""
    from clickestream_project_bigdata_spark.streaming import stateful_funnel

    batches = [
        # u1 lives: view@100, click@200 -> steps_reached 2
        [wire_record(1, 100, "view", 1), wire_record(1, 200, "click", 1)],
        # u2 far ahead advances the watermark (applied from the NEXT batch)
        [wire_record(2, 100_000, "view", 1)],
        # this batch runs with watermark ~99990 s >> u1's timeout (1200 s)
        # -> u1 expires here
        [wire_record(2, 200_000, "view", 1)],
        # u1 returns AFTER expiry -> fresh state, not a continuation
        [wire_record(1, 300_000, "view", 1)],
    ]
    path = write_batch_files(tmp_path, batches)
    stream = canonicalize(read_json_stream(spark, path, max_files=1))
    q = (
        stateful_funnel(
            stream, ["view", "click", "purchase"],
            watermark="10 seconds", ttl_s=1000,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sf_ttl")
        .option("checkpointLocation", str(tmp_path / "ckpt_sf_ttl"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select * from sf_ttl").collect()
    u1 = [r for r in rows if r["visitorid"] == 1]
    expired = [r for r in u1 if r["expired"]]
    live = [r for r in u1 if not r["expired"]]
    # exactly ONE expiry emission, equal to the last live row's values
    assert len(expired) == 1
    assert expired[0]["steps_reached"] == 2 and expired[0]["n_events"] == 2
    pre = [r for r in live if r["n_events"] == 2]
    assert len(pre) == 1
    assert list(expired[0]["step_times"]) == list(pre[0]["step_times"])
    # the return is FRESH: one live row with n_events=1, steps_reached=1
    fresh = [r for r in live if r["n_events"] == 1]
    assert len(fresh) == 1 and fresh[0]["steps_reached"] == 1
    # u2's last activity is 200,000 s; u1's return pushes the final
    # watermark to ~299,990 s — past u2's 201,000 s timeout — so u2 also
    # expires, exactly once, in the trailing no-data batch
    u2_expired = [r for r in rows if r["visitorid"] == 2 and r["expired"]]
    assert len(u2_expired) == 1 and u2_expired[0]["n_events"] == 2
    # the freshly-returned u1 state (timeout 301,000 s) stays live: its
    # only expired row is the one asserted above
    assert len(expired) == 1


def test_stateful_funnel_ttl_pre_expiry_matches_untimed(spark, tmp_path):
    """With no expiry in range, TTL-mode emissions equal the untimed
    operator's row-for-row (modulo the expired=False column) — the
    pre-expiry-semantics-unchanged contract."""
    from clickestream_project_bigdata_spark.streaming import stateful_funnel

    batches = [
        [wire_record(1, 100, "view", 1), wire_record(2, 50, "purchase", 1)],
        [wire_record(1, 300, "click", 1), wire_record(2, 200, "view", 1)],
        [wire_record(1, 900, "purchase", 1)],
    ]
    outs = []
    for mode, ttl in (("untimed", None), ("ttl", 10**9)):
        sub = tmp_path / mode
        sub.mkdir()
        path = write_batch_files(sub, batches)
        stream = canonicalize(read_json_stream(spark, path, max_files=1))
        q = (
            stateful_funnel(
                stream, ["view", "click", "purchase"],
                watermark="10 hours", ttl_s=ttl,
            )
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(f"sf_pre_{mode}")
            .option("checkpointLocation", str(sub / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        rows = spark.sql(f"select * from sf_pre_{mode}").collect()
        if mode == "ttl":
            assert all(r["expired"] is False for r in rows)
        outs.append(
            sorted(
                (
                    r["visitorid"], r["steps_reached"],
                    tuple(r["step_times"]), r["n_events"],
                )
                for r in rows
            )
        )
    assert outs[0] == outs[1]


def test_stream_scale_replay_small_fixture_equals_batch(spark, tmp_path):
    """The tools/stream_scale.py replay harness end-to-end at sf0.001: the
    whole fixture pushed through stateful_session_metrics as a 10-chunk file
    stream (one micro-batch per chunk + sentinel flush) must equal the
    batch sessionize/session_metrics oracle EXACTLY — the same flow the
    10x SCALING.md run records, pinned here at test scale."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "stream_scale",
        os.path.join(os.path.dirname(__file__), "..", "tools", "stream_scale.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.sessionize import (
        session_metrics,
        sessionize,
    )
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
        events_stream_from_chunks,
    )
    from clickestream_project_bigdata_spark.streaming.sessions import (
        stateful_session_metrics,
    )

    fixture = "/root/testdata/sf0.001"
    chunks = str(tmp_path / "chunks")
    n_rows = mod.write_chunks(spark, fixture, chunks, n_chunks=10)
    assert n_rows > 0

    sink = str(tmp_path / "out")
    q = (
        stateful_session_metrics(
            events_stream_from_chunks(spark, chunks, max_files=1),
            gap_seconds=1800,
            watermark="1 hour",
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    cols = ["session_id", "visitorid", "session_start", "session_end",
            "events_in_session", "session_length"]
    streamed = (
        spark.read.parquet(sink)
        .filter(F.col("visitorid") != mod.SENTINEL_VISITOR)
        .select(cols)
    )
    batch = (
        session_metrics(sessionize(events_from_fixture(spark, fixture)))
        # batch ids are visitor_ordinal; restate as the stateful operator's
        # visitor_startepoch convention so the ids compare too
        .withColumn(
            "session_id",
            F.concat_ws(
                "_", F.col("visitorid"), F.unix_timestamp("session_start")
            ),
        )
        .select(cols)
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    # a real multi-batch run, not one big batch
    assert len(q.recentProgress) >= 10


def test_stream_scale_append_run_preserves_any_prior_shape(tmp_path):
    """ADVICE r10: the longitudinal STREAM_SCALE record must never be
    dropped by migration — a prior artifact that is a bare run dict, a
    list, or an unrecognized dict gets WRAPPED into runs, and only
    unreadable JSON starts fresh. Pure-python (no Spark)."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "stream_scale_tool",
        os.path.join(os.path.dirname(__file__), "..", "tools", "stream_scale.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    cases = [
        ({"runs": [{"events": 1}]}, 2),          # canonical shape appends
        ({"events": 5, "wall_sec": 1}, 2),        # bare r9-style run dict
        ([{"events": 5}], 2),                     # a list prior
        ({"unrecognized": True}, 2),              # unknown dict is wrapped
    ]
    for prior, want_len in cases:
        out = tmp_path / "s.json"
        out.write_text(json.dumps(prior))
        mod._append_run(str(out), {"operator": "x"})
        got = json.loads(out.read_text())
        assert isinstance(got.get("runs"), list) and len(got["runs"]) == want_len, prior
        assert got["runs"][-1] == {"operator": "x"}
    # unreadable JSON -> fresh single-run record (never a crash)
    out = tmp_path / "bad.json"
    out.write_text("{not json")
    mod._append_run(str(out), {"operator": "y"})
    assert json.loads(out.read_text())["runs"] == [{"operator": "y"}]
