"""Sessionization semantics pinned to the reference
(`/root/reference/stream_processor.py:79-138`): strict >1800 s gap, floored
epoch arithmetic, `visitorid_N` session ids."""

from __future__ import annotations

from clickestream_project_bigdata_spark.operators.sessionize import (
    session_metrics,
    sessionize,
)


def test_gap_exactly_1800s_is_one_session(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:00", "view", 10),
            (1, "2024-01-01 00:30:00", "view", 10),  # exactly 1800 s later
        ]
    )
    out = sessionize(df)
    assert {r.session_id for r in out.collect()} == {"1_1"}


def test_gap_1801s_starts_new_session(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:00", "view", 10),
            (1, "2024-01-01 00:30:01", "view", 10),
        ]
    )
    out = sessionize(df)
    assert {r.session_id for r in out.collect()} == {"1_1", "1_2"}


def test_session_numbering_and_metrics(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:00", "view", 10),
            (1, "2024-01-01 00:10:00", "addtocart", 10),
            (1, "2024-01-01 02:00:00", "view", 11),
            (2, "2024-01-01 00:05:00", "view", 12),
        ]
    )
    m = session_metrics(sessionize(df))
    got = {r.session_id: (r.events_in_session, r.session_length) for r in m.collect()}
    assert got == {"1_1": (2, 600), "1_2": (1, 0), "2_1": (1, 0)}
    starts = {r.session_id: r.session_start.isoformat() for r in m.collect()}
    assert starts["1_1"] == "2024-01-01T00:00:00"


def test_gap_parameter(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:00", "view", 10),
            (1, "2024-01-01 00:00:11", "view", 10),
        ]
    )
    assert sessionize(df, gap_seconds=10).select("session_id").distinct().count() == 2
    assert sessionize(df, gap_seconds=11).select("session_id").distinct().count() == 1
