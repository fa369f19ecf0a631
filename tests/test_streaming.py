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
    """S2 wire shape: to_kafka_wire keys a JSON value by visitorid; cast to
    the Kafka source's BINARY key/value, parse_kafka_wire recovers the key
    as session_key and every wire column (no broker needed)."""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.schema import WIRE_EVENT_SCHEMA
    from clickestream_project_bigdata_spark.sources import (
        parse_kafka_wire,
        to_kafka_wire,
    )

    record = ("2023-11-14 22:13:20", "7", "view", "1", None, "Low Value", str(BASE_MS))
    wire_df = spark.createDataFrame([record], WIRE_EVENT_SCHEMA)
    kafka_shaped = to_kafka_wire(wire_df)
    assert kafka_shaped.columns == ["key", "value"]
    kafka_source = kafka_shaped.select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
    )
    back = parse_kafka_wire(kafka_source)
    assert back.columns == ["session_key", *WIRE_EVENT_SCHEMA.fieldNames()]
    row = back.collect()[0]
    assert row["session_key"] == "7"
    assert tuple(row[c] for c in WIRE_EVENT_SCHEMA.fieldNames()) == record


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
    calling thread and collected one table at a time. Every write's plan
    reads one in-memory relation holding exactly the four columns its
    analyses read, though the batch also carries three canonical columns
    no analysis reads."""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.streaming.driver import run_all_analyses

    class PlanRecordingSink(MemorySink):
        """Records each write's leaf relations as (node, column names)."""

        def __init__(self):
            super().__init__()
            self.leaves: dict[str, list[tuple[str, list[str]]]] = {}

        def write(self, df, table, batch_id=None):
            leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
            self.leaves[table] = []
            for i in range(leaves.size()):
                leaf, out = leaves.apply(i), leaves.apply(i).output()
                self.leaves[table].append(
                    (leaf.getClass().getSimpleName(), [out.apply(j).name() for j in range(out.size())])
                )
            super().write(df, table, batch_id)

    steps = ["view", "click", "purchase"]
    batch = canonical_batch(spark, one_batch_events)
    assert {"transactionid", "event_category", "unix_timestamp"} <= set(batch.columns)
    sink = PlanRecordingSink()
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

    batch_cols = ["visitorid", "event", "event_time", "itemid"]
    session_cols = ["visitorid", "event", "event_time", "session_id"]
    for table, leaves in sink.leaves.items():
        want = session_cols if table in {"sessions", "user_paths", "funnel_analysis"} else batch_cols
        assert leaves == [("InMemoryRelation", want)], table


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


def write_events_csv(path, n_events: int, seed: int) -> str:
    """A RetailRocket-shaped ``events.csv``: ~5 events per visitor over one
    day, a view-heavy event mix, ids only on transactions."""
    import random

    rng = random.Random(seed)
    lines = ["timestamp,visitorid,event,itemid,transactionid"]
    for i in range(n_events):
        event = rng.choices(["view", "addtocart", "transaction"], [95, 3, 2])[0]
        lines.append(
            f"{BASE_MS + rng.randrange(86_400_000)},{rng.randrange(n_events // 5)},"
            f"{event},{rng.randrange(n_events // 10)},"
            f"{i if event == 'transaction' else ''}"
        )
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_replay_passes_reuse_generated_code(spark, tmp_path):
    """After one warm ``run_pipeline`` pass, passes alternating a small and
    a large input (the replay benchmark's warm-up/timed pattern) find their
    generated classes in the code cache: each compiles at most the 2
    classes of the funnel's per-pass ``current_timestamp()`` literal, not
    the part of the ~89-class working set an undersized cache evicted."""
    from clickestream_project_bigdata_spark.sources.readers import read_raw_events_csv
    from clickestream_project_bigdata_spark.streaming import ParquetSink
    from clickestream_project_bigdata_spark.streaming.driver import run_pipeline

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    small = write_events_csv(tmp_path / "small.csv", 2_000, seed=1)
    large = write_events_csv(tmp_path / "large.csv", 20_000, seed=2)

    def replay(csv, i):
        run_pipeline(read_raw_events_csv(spark, csv), 0, ParquetSink(str(tmp_path / f"out{i}")))

    replay(small, 0)
    compiled = []
    for i, csv in enumerate([large, small, large, small], start=1):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        replay(csv, i)
        compiled.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
    assert max(compiled) <= 2, compiled


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


def test_parquet_sink_retry_replaces_only_its_batch(spark, tmp_path, make_events):
    """A retried batch that carries different rows replaces its own
    ``batch_id=N`` directory and leaves the earlier batch as written."""
    from clickestream_project_bigdata_spark.streaming import ParquetSink

    sink = ParquetSink(str(tmp_path / "out"))

    def epm(*minutes):
        return analytics.events_per_minute(
            make_events([(1, f"2024-01-01T00:{m:02d}:10", "view", 1) for m in minutes])
        )

    sink.write(epm(1), "events_per_minute", batch_id=2)
    sink.write(epm(2, 3), "events_per_minute", batch_id=3)
    sink.write(epm(4), "events_per_minute", batch_id=3)  # retry, new rows
    out = spark.read.parquet(str(tmp_path / "out/events_per_minute"))
    got = sorted((r["batch_id"], r["minute"].minute) for r in out.collect())
    assert got == [(2, 1), (3, 4)]


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


def test_trending_items_matches_python_decay_sum(spark):
    """trending_items equals the closed form Σ exp(-λ(t_last − tᵢ)) per
    item, computed here in plain Python over three batches' worth of
    events, with the item's event count and last event time."""
    import math

    from clickestream_project_bigdata_spark.operators.analytics import trending_items

    batches = [
        [wire_record(1, 0, "view", 10), wire_record(1, 500, "view", 10)],
        [wire_record(2, 2000, "view", 10), wire_record(2, 2500, "view", 20)],
        [wire_record(3, 9000, "view", 10), wire_record(3, 9001, "view", 20)],
    ]
    records = [r for b in batches for r in b]
    lam = math.log(2.0) / 3600.0

    offsets: dict[int, list[int]] = {}
    for r in records:
        offsets.setdefault(int(r["itemid"]), []).append(
            (int(r["unix_timestamp"]) - BASE_MS) // 1000
        )
    expected = {
        item: (len(ts), max(ts), sum(math.exp(-lam * (max(ts) - t)) for t in ts))
        for item, ts in offsets.items()
    }

    batch = canonicalize(
        spark.createDataFrame(
            [tuple(r[k] for k in r) for r in records],
            "timestamp string, visitorid string, event string, itemid string, "
            "transactionid string, event_category string, unix_timestamp string",
        )
    )
    got = {r.itemid: r for r in trending_items(batch, lam_per_s=lam).collect()}
    assert set(got) == set(expected)
    for item, (n, t_last, decayed) in expected.items():
        r = got[item]
        assert r.raw_events == n
        assert r.last_event_time.timestamp() * 1000 == BASE_MS + t_last * 1000
        assert abs(r.decayed_count - decayed) < 1e-6, (item, r, decayed)


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
