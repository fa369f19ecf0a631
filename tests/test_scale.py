"""Streaming late-data semantics of the minute analyses (T7)."""

from __future__ import annotations

import functools

import pytest

from clickestream_project_bigdata_spark.operators import analytics


def test_windowed_counts_drop_late_events(spark, tmp_path):
    """T7: with a watermark, an event older than (max event time − delay)
    arriving in a later micro-batch is dropped from the aggregation."""
    import json
    import os

    from clickestream_project_bigdata_spark.operators.analytics import (
        events_per_minute,
    )
    from clickestream_project_bigdata_spark.operators.cleanse import canonicalize
    from clickestream_project_bigdata_spark.sources.readers import read_json_stream

    BASE_MS = 1700000000000

    def rec(v, off_s):
        return {
            "timestamp": "x", "visitorid": str(v), "event": "view",
            "itemid": "1", "transactionid": None, "event_category": "x",
            "unix_timestamp": str(BASE_MS + off_s * 1000),
        }

    src = tmp_path / "late_src"
    src.mkdir()
    # the late-record FILTER uses the start-of-batch watermark, which lags
    # the end-of-batch (eviction) watermark by one batch. So: seed the
    # window (b0), advance event time twice (b1, b2) — the first-minute
    # window is evicted/emitted by b2 and the filter watermark is high by
    # b3, whose straggler is then provably dropped.
    batches = [
        [rec(1, 0)],
        [rec(1, 3600)],
        [rec(1, 7200)],
        [rec(2, 30)],  # 30s-old: behind the (3600-600)s filter watermark → dropped
    ]
    for i, b in enumerate(batches):
        p = src / f"b{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in b))
        os.utime(p, (1_000_000 + i, 1_000_000 + i))

    stream = canonicalize(read_json_stream(spark, str(src), max_files=1))
    q = (
        events_per_minute(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_counts")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from late_counts").collect()
    # the first minute closed with ONLY visitor 1's event; visitor
    # 2's late event neither resurrected it nor produced a second row
    import datetime as dt

    first_minute = [
        r for r in rows if r["minute"] == dt.datetime(2023, 11, 14, 22, 13)
    ]
    assert len(first_minute) == 1
    assert first_minute[0]["events_count"] == 1


def _drain_windowed(spark, tmp_path, op, name):
    """Run a minute-grain analysis over the standard 4-batch late-data feed."""
    import json
    import os

    from clickestream_project_bigdata_spark.operators.cleanse import canonicalize
    from clickestream_project_bigdata_spark.sources.readers import read_json_stream

    BASE_MS = 1700000000000

    def rec(v, off_s, item="1"):
        return {
            "timestamp": "x", "visitorid": str(v), "event": "view",
            "itemid": item, "transactionid": None, "event_category": "x",
            "unix_timestamp": str(BASE_MS + off_s * 1000),
        }

    src = tmp_path / f"{name}_src"
    src.mkdir()
    batches = [
        [rec(1, 0, "7"), rec(1, 10, "7"), rec(2, 30, "8")],  # minute 0: v1 ×2, v2 ×1
        [rec(1, 3600)],
        [rec(1, 7200)],
        [rec(3, 20, "7")],  # straggler into minute 0 → must be dropped
    ]
    for i, b in enumerate(batches):
        p = src / f"b{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in b))
        os.utime(p, (1_000_000 + i, 1_000_000 + i))

    stream = canonicalize(read_json_stream(spark, str(src), max_files=1))
    q = (
        op(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def test_windowed_bounce_rate_streaming_and_late_data(spark, tmp_path):
    """Chained stateful aggregation: the first minute closes with v1 (2
    events, not a bounce) and v2 (1 event, bounce); the late v3 event
    neither resurrects the window nor changes the published row. Values
    match the batch operator on the in-time events."""
    import datetime as dt

    from clickestream_project_bigdata_spark.operators.analytics import bounce_rate

    rows = _drain_windowed(spark, tmp_path, bounce_rate, "wbr")
    first = [r for r in rows if r["minute"] == dt.datetime(2023, 11, 14, 22, 13)]
    assert len(first) == 1
    r = first[0]
    assert (r["bounces"], r["total_users"], r["bounce_rate"]) == (1, 2, 0.5)


def test_windowed_top_items_streaming_and_late_data(spark, tmp_path):
    import datetime as dt

    from clickestream_project_bigdata_spark.operators.analytics import top_items

    rows = _drain_windowed(spark, tmp_path, top_items, "wti")
    first = {
        r["itemid"]: r["interactions"]
        for r in rows
        if r["minute"] == dt.datetime(2023, 11, 14, 22, 13)
    }
    assert first == {7: 2, 8: 1}  # the late item-7 event is not counted


@pytest.mark.parametrize(
    "op, value_col, want",
    [
        (analytics.events_per_minute, "events_count", 3),
        (analytics.event_type_distribution, "event_count", 3),  # all views
        (functools.partial(analytics.active_users, exact=False), "active_users", 2),
    ],
    ids=["events_per_minute", "event_type_distribution", "active_users"],
)
def test_minute_analyses_streaming_and_late_data(spark, tmp_path, op, value_col, want):
    """The other minute-grain analyses run on the same stream unchanged:
    the first minute is appended once, with the in-time events only (the
    late v3 event is dropped). ``active_users`` streams as its sketch."""
    import datetime as dt

    rows = _drain_windowed(spark, tmp_path, op, f"wma_{value_col}")
    first = [r for r in rows if r["minute"] == dt.datetime(2023, 11, 14, 22, 13)]
    assert len(first) == 1
    assert first[0][value_col] == want
