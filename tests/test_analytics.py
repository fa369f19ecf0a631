"""The 10 analyses on tiny hand-written frames — edge cases per FIXTURES.md §5."""

from __future__ import annotations

from clickestream_project_bigdata_spark.operators import analytics
from clickestream_project_bigdata_spark.operators.sessionize import sessionize


def test_events_per_minute_boundary(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:59", "view", 1),
            (1, "2024-01-01 00:01:00", "view", 1),
            (2, "2024-01-01 00:01:30", "view", 2),
        ]
    )
    got = {r.minute.isoformat(): r.events_count for r in analytics.events_per_minute(df).collect()}
    assert got == {"2024-01-01T00:00:00": 1, "2024-01-01T00:01:00": 2}


def test_active_users_counted_in_each_minute(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:10", "view", 1),
            (1, "2024-01-01 00:01:10", "view", 1),  # same visitor, two minutes
            (2, "2024-01-01 00:00:20", "view", 1),
        ]
    )
    got = {r.minute.isoformat(): r.active_users for r in analytics.active_users(df).collect()}
    assert got == {"2024-01-01T00:00:00": 2, "2024-01-01T00:01:00": 1}


def test_bounce_rate_single_event_visitor(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:10", "view", 1),  # bounce in minute 0
            (2, "2024-01-01 00:00:20", "view", 1),
            (2, "2024-01-01 00:00:40", "view", 1),  # not a bounce
        ]
    )
    r = analytics.bounce_rate(df).collect()[0]
    assert (r.bounces, r.total_users, r.bounce_rate) == (1, 2, 0.5)

    # two minutes, mixed event types: each minute is its own rollup
    df = make_events(
        [
            (1, "2024-01-01T00:00:00", "view", 10),
            (1, "2024-01-01T00:00:30", "click", 10),
            (2, "2024-01-01T00:00:40", "view", 11),
            (3, "2024-01-01T00:01:10", "view", 11),
        ]
    )
    got = {
        r.minute.isoformat(): (r.bounces, r.total_users, r.bounce_rate)
        for r in analytics.bounce_rate(df).collect()
    }
    assert got == {
        "2024-01-01T00:00:00": (1, 2, 0.5),
        "2024-01-01T00:01:00": (1, 1, 1.0),
    }


def test_minute_grain_keeps_null_minute_in_batch(spark):
    """One definition per analysis: ``with_minute`` floors with
    ``date_trunc`` and puts the watermark on the floored minute. In batch
    the watermark leaves the plan, and a NULL event time (a malformed
    timestamp after ``canonicalize``) still yields the reference's
    NULL-minute row. ``F.window`` would filter it out."""
    import datetime as dt

    df = spark.createDataFrame(
        [
            (1, "view", dt.datetime(2024, 1, 1, 0, 0, 10), 1),
            (2, "view", None, 2),
        ],
        "visitorid long, event string, event_time timestamp, itemid long",
    )
    for op in (
        analytics.events_per_minute,
        analytics.active_users,
        analytics.event_type_distribution,
        analytics.top_items,
        analytics.bounce_rate,
    ):
        out = op(df)
        minutes = [r.minute for r in out.collect()]
        assert sorted(minutes, key=str) == [dt.datetime(2024, 1, 1), None], op.__name__
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EventTimeWatermark" not in plan, op.__name__


def test_event_type_distribution(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:10", "view", 1),
            (1, "2024-01-01 00:00:20", "addtocart", 1),
            (2, "2024-01-01 00:00:30", "view", 2),
        ]
    )
    got = {(r.minute.isoformat(), r.event): r.event_count
           for r in analytics.event_type_distribution(df).collect()}
    assert got == {
        ("2024-01-01T00:00:00", "view"): 2,
        ("2024-01-01T00:00:00", "addtocart"): 1,
    }


def test_item_counts_and_most_viewed(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:10", "view", 1),
            (1, "2024-01-01 00:00:20", "addtocart", 1),
            (2, "2024-01-01 00:00:30", "view", 2),
        ]
    )
    inter = {r.itemid: r.interaction_count for r in analytics.item_interactions(df).collect()}
    assert inter == {1: 2, 2: 1}
    views = {r.itemid: r.view_count for r in analytics.most_viewed_items(df).collect()}
    assert views == {1: 1, 2: 1}


def test_top_k_items_rank_and_tiebreak(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:01", "view", 5),
            (2, "2024-01-01 00:00:02", "view", 5),
            (3, "2024-01-01 00:00:03", "view", 3),
            (4, "2024-01-01 00:00:04", "view", 9),  # ties with item 3; lower id wins
        ]
    )
    got = [(r.itemid, r.rank) for r in
           analytics.top_k_items_per_minute(df, k=2).orderBy("rank").collect()]
    assert got == [(5, 1), (3, 2)]


def test_events_per_minute_moving_average(make_events):
    from clickestream_project_bigdata_spark.operators.analytics import (
        events_per_minute_ma,
    )

    events = make_events(
        [
            (1, "2024-01-01T00:00:10", "view", 1),
            (1, "2024-01-01T00:00:20", "view", 1),  # minute 0: 2 events
            (1, "2024-01-01T00:01:10", "view", 1),  # minute 1: 1 event
            (1, "2024-01-01T00:10:10", "view", 1),  # minute 10: outside 5m range
        ]
    )
    out = {r["minute"].minute: r["ma_5m"] for r in events_per_minute_ma(events, 5).collect()}
    assert out[0] == 2.0
    assert out[1] == 1.5  # (2+1)/2 within the 5-minute range frame
    assert out[10] == 1.0  # range frame excludes minutes 0-1 (gap > 4 min)


def test_user_paths_order_and_tiebreak(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:30", "view", 1),
            (1, "2024-01-01 00:00:10", "transaction", 1),
            # duplicate event_time: struct comparison ties on event string
            (1, "2024-01-01 00:00:10", "addtocart", 1),
        ]
    )
    out = analytics.user_paths(sessionize(df)).collect()
    assert len(out) == 1
    assert out[0].user_path == ["addtocart", "transaction", "view"]


def test_event_non_null_invariant(spark):
    """user_paths' window spelling collects `event` directly, and
    collect_list drops null elements — while top_paths' struct spelling and
    the streaming twin would keep them as null entries. The three agree
    because `event` is non-null at the source (the reference wire record
    always carries an event string, `stream_processor.py:41-49`); pin that
    invariant on the driver fixture so a null-bearing source change is
    caught here, not as a silent batch/stream divergence."""
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
    )

    ev = events_from_fixture(spark, "/root/testdata/sf0.001")
    assert ev.filter("event IS NULL").count() == 0


def test_funnel_membership_not_ordering(make_events):
    df = make_events(
        [
            # session with transaction but NO addtocart still counts (non-monotonic)
            (1, "2024-01-01 00:00:10", "view", 1),
            (1, "2024-01-01 00:00:20", "transaction", 1),
            # full funnel session
            (2, "2024-01-01 00:00:10", "view", 2),
            (2, "2024-01-01 00:00:20", "addtocart", 2),
            (2, "2024-01-01 00:00:30", "transaction", 2),
        ]
    )
    r = analytics.funnel_analysis(sessionize(df)).collect()[0]
    assert (r["view"], r["addtocart"], r["transaction"]) == (2, 1, 2)


def test_funnel_counts_sessions_not_visitors(make_events):
    df = make_events(
        [
            (1, "2024-01-01 00:00:10", "view", 1),
            (1, "2024-01-01 02:00:10", "view", 1),  # second session, same visitor
        ]
    )
    r = analytics.funnel_analysis(sessionize(df)).collect()[0]
    assert r["view"] == 2


def test_active_users_kmv_estimator(spark):
    """KMV sketch: exact below k distinct; within ~3/sqrt(k) relative error
    above it (deterministic given the portable hash, so the bound is a firm
    regression pin, not a flaky statistical one)."""
    import datetime as dt

    from clickestream_project_bigdata_spark.operators.analytics import active_users_kmv

    base = dt.datetime(2024, 1, 1)
    rows = [(v, base) for v in range(1000)]  # 1000 distinct in one bucket
    rows += [(v, base + dt.timedelta(hours=2)) for v in range(5)]  # 5 distinct
    df = spark.createDataFrame(rows, "visitorid long, event_time timestamp")
    got = {r.bucket: r.active_users_est for r in active_users_kmv(df, k=32).collect()}
    assert got[base + dt.timedelta(hours=2)] == 5.0  # exact branch
    est = got[base]
    assert abs(est - 1000) / 1000 < 3 / (32 ** 0.5), est


def test_profile_events(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import profile_events

    events = make_events(
        [
            (1, "2024-01-01T00:00:00", "view", 10),
            (1, "2024-01-01T00:05:00", "click", None),
            (2, "2024-01-01T01:00:00", "view", 10),
        ]
    )
    [r] = profile_events(events).collect()
    assert (r["n_rows"], r["n_visitors"], r["n_items"]) == (3, 2, 1)
    assert r["n_event_types"] == 2 and r["null_itemid"] == 1


def test_session_length_quantiles_approx_close_to_exact(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import (
        session_length_quantiles,
    )
    from clickestream_project_bigdata_spark.operators.sessionize import (
        session_metrics,
        sessionize,
    )

    events = make_events(
        [(1, f"2024-01-01T00:{m:02d}:00", "view", 1) for m in range(0, 50, 5)]
        + [(2, "2024-01-01T00:00:00", "view", 1), (2, "2024-01-01T02:00:00", "view", 1)]
    )
    m = session_metrics(sessionize(events))
    [ex] = session_length_quantiles(m, exact=True).collect()
    [ap] = session_length_quantiles(m, exact=False).collect()
    assert ex["n_sessions"] == ap["n_sessions"]
    # approx_percentile returns actual order statistics (no interpolation):
    # each estimate must be a real session length, and monotone across q
    lengths = {r["session_length"] for r in m.collect()}
    assert {ap["p50"], ap["p90"], ap["p99"]} <= {float(x) for x in lengths}
    assert ap["p50"] <= ap["p90"] <= ap["p99"]


def test_key_skew_profile_orders_and_shares(spark):
    from clickestream_project_bigdata_spark.operators.analytics import key_skew_profile
    df = spark.createDataFrame(
        [(1,)] * 6 + [(2,)] * 3 + [(3,)] * 1, "k long"
    )
    rows = key_skew_profile(df, "k", k=2).collect()
    assert [(r.k, r.n_rows, r.share) for r in rows] == [(1, 6, 0.6), (2, 3, 0.3)]


def test_rolling_active_users_trailing_window(spark):
    """A visitor-day contributes to exactly the next window_days target
    days; only days present in the data are reported."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        rolling_active_users,
    )

    rows = [
        (1, "2024-01-01T10:00:00"),
        (1, "2024-01-01T11:00:00"),  # same visitor-day, counted once
        (2, "2024-01-02T10:00:00"),
        (3, "2024-01-09T10:00:00"),  # outside 7-day window of Jan 1
    ]
    import datetime as dt

    df = spark.createDataFrame(
        [(v, dt.datetime.fromisoformat(t)) for v, t in rows],
        "visitorid long, event_time timestamp",
    )
    got = {str(r.day): r.active_users for r in rolling_active_users(df, 7).collect()}
    # reported days = days present in data only
    assert set(got) == {"2024-01-01", "2024-01-02", "2024-01-09"}
    assert got["2024-01-01"] == 1          # visitor 1 only
    assert got["2024-01-02"] == 2          # visitors 1 (trailing) + 2
    # Jan 9: visitor 1's window (Jan 1..7) closed; visitor 2's (Jan 2..8) closed
    assert got["2024-01-09"] == 1


def test_events_cube_grouping_sets(spark):
    from clickestream_project_bigdata_spark.operators.analytics import events_cube
    import datetime as dt

    df = spark.createDataFrame(
        [
            ("view", dt.datetime(2024, 1, 1, 10), 10.0),
            ("view", dt.datetime(2024, 1, 2, 10), 20.0),
            ("click", dt.datetime(2024, 1, 1, 10), 5.0),
        ],
        "event string, event_time timestamp, value double",
    )
    rows = events_cube(df).collect()
    cells = {(r.event, str(r.day) if r.day else None): (r.n_events, r.sum_value) for r in rows}
    assert cells[(None, None)] == (3, 35.0)            # grand total
    assert cells[("view", None)] == (2, 30.0)          # per-event subtotal
    assert cells[(None, "2024-01-01")] == (2, 15.0)    # per-day subtotal
    assert cells[("view", "2024-01-01")] == (1, 10.0)  # cell
    # grouping_id disambiguates subtotal NULLs: event=MSB, day=LSB
    gids = {(r.event, str(r.day) if r.day else None): r.gid for r in rows}
    assert gids[(None, None)] == 3
    assert gids[("view", None)] == 1
    assert gids[(None, "2024-01-01")] == 2
    assert gids[("view", "2024-01-01")] == 0


def test_value_histogram_bins(spark):
    from clickestream_project_bigdata_spark.operators.analytics import value_histogram
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t, 0.0), (t, 9.99), (t, 10.0), (t, -0.1), (t, None), (t, float("nan"))],
        "event_time timestamp, value double",
    )
    got = {r.bin: (r.n_events, r.bin_start) for r in value_histogram(df, 10.0).collect()}
    assert got[0] == (2, 0.0)      # [0, 10); NaN does NOT land here
    assert got[1] == (1, 10.0)     # [10, 20)
    assert got[-1] == (1, -10.0)   # floor semantics for negatives
    assert sum(n for n, _ in got.values()) == 4  # NULL and NaN excluded


def test_latest_event_state_keeps_latest_with_tiebreak(spark):
    """Keep-latest per key: later timestamp wins; equal timestamps break by
    the tiebreak column (highest event_id)."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        latest_event_state,
    )
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [
            (1, 10, t(5), 100, "view", 1.0),
            (1, 10, t(9), 101, "click", 2.0),   # latest for (1,10)
            (1, 20, t(5), 102, "view", 3.0),
            (2, 10, t(5), 103, "view", 4.0),
            (2, 10, t(5), 104, "click", 5.0),   # tie -> higher event_id wins
        ],
        "visitorid long, itemid long, event_time timestamp, event_id long, event string, value double",
    )
    got = {(r.visitorid, r.itemid): (r.event_id, r.event) for r in latest_event_state(df).collect()}
    assert got[(1, 10)] == (101, "click")
    assert got[(1, 20)] == (102, "view")
    assert got[(2, 10)] == (104, "click")


def test_event_type_pivot_wide_counts(spark, make_events):
    """Pivot with an explicit value list: one column per type, absent
    combinations fill 0, unknown types are dropped (stable schema)."""
    from clickestream_project_bigdata_spark.operators.analytics import event_type_pivot

    ev = make_events(
        [
            (1, "2024-01-01T00:00:10", "view", 1),
            (2, "2024-01-01T00:00:20", "view", 1),
            (1, "2024-01-01T00:00:30", "click", 2),
            (1, "2024-01-01T00:01:10", "purchase", 2),
        ]
    )
    out = event_type_pivot(ev, event_types=("view", "click", "purchase"))
    assert out.columns == ["minute", "view", "click", "purchase"]
    rows = {str(r.minute): (r.view, r.click, r.purchase) for r in out.collect()}
    assert rows["2024-01-01 00:00:00"] == (2, 1, 0)   # purchase fills 0
    assert rows["2024-01-01 00:01:00"] == (0, 0, 1)


def test_sequential_funnel_strict_ordering(spark, make_events):
    """Exact sequential semantics: a step counts only AFTER the completed
    previous step — an early out-of-order event neither completes nor
    poisons the chain."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        sequential_funnel,
    )
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize

    ev = make_events(
        [
            # visitor 1: click BEFORE view, then click after -> completes v->c
            (1, "2024-01-01T00:00:05", "addtocart", 1),
            (1, "2024-01-01T00:00:10", "view", 1),
            (1, "2024-01-01T00:00:20", "addtocart", 1),
            # visitor 2: transaction before addtocart -> v->a completes, a->t does NOT
            (2, "2024-01-01T00:00:10", "view", 2),
            (2, "2024-01-01T00:00:15", "transaction", 2),
            (2, "2024-01-01T00:00:20", "addtocart", 2),
            # visitor 3: full ordered chain
            (3, "2024-01-01T00:00:10", "view", 3),
            (3, "2024-01-01T00:00:20", "addtocart", 3),
            (3, "2024-01-01T00:00:30", "transaction", 3),
            # visitor 4: never views -> contributes nothing
            (4, "2024-01-01T00:00:10", "transaction", 4),
        ]
    )
    [r] = sequential_funnel(
        sessionize(ev), ["view", "addtocart", "transaction"]
    ).collect()
    assert (r.view_sessions, r.addtocart_sessions, r.transaction_sessions) == (3, 3, 1)


def test_item_cooccurrence_pairs_and_cap(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import (
        item_cooccurrence,
    )
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize

    ev = make_events(
        [
            (1, "2024-01-01T00:00:10", "view", 3),
            (1, "2024-01-01T00:00:20", "view", 1),
            (1, "2024-01-01T00:00:30", "view", 1),   # duplicate item: one membership
            (2, "2024-01-01T00:00:10", "view", 1),
            (2, "2024-01-01T00:00:20", "view", 3),
            (3, "2024-01-01T00:00:10", "view", 9),   # single-item session: no pairs
        ]
    )
    got = {(r.item_a, r.item_b): r.n_sessions
           for r in item_cooccurrence(sessionize(ev)).collect()}
    assert got == {(1, 3): 2}  # ordered a<b, counted once per session

    # cap: a 5-item session with cap 3 keeps the 3 LOWEST ids -> C(3,2) pairs
    big = make_events(
        [(9, "2024-01-01T00:00:10", "view", i) for i in (5, 4, 3, 2, 1)]
    )
    capped = {(r.item_a, r.item_b)
              for r in item_cooccurrence(sessionize(big), max_items_per_session=3).collect()}
    assert capped == {(1, 2), (1, 3), (2, 3)}


def test_retention_cohorts_weekly(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import (
        retention_cohorts,
    )

    # 2024-01-01 is a Monday: weeks are [1-7], [8-14], [15-21]
    ev = make_events(
        [
            (1, "2024-01-02T00:00:00", "view", 1),  # cohort w0
            (1, "2024-01-10T00:00:00", "view", 1),  # returns w1
            (1, "2024-01-16T00:00:00", "view", 1),  # returns w2
            (2, "2024-01-03T00:00:00", "view", 1),  # cohort w0, never returns
            (3, "2024-01-09T00:00:00", "view", 1),  # cohort w1
        ]
    )
    got = {(str(r.cohort), r.period_offset): (r.active_visitors, r.cohort_size, r.retention_rate)
           for r in retention_cohorts(ev).collect()}
    assert got[("2024-01-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01-01", 1)] == (1, 2, 0.5)
    assert got[("2024-01-01", 2)] == (1, 2, 0.5)
    assert got[("2024-01-08", 0)] == (1, 1, 1.0)
    assert len(got) == 4


def test_item_dwell_time_gaps(spark, make_events):
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.analytics import item_dwell_time

    ev = make_events(
        [
            (1, "2024-01-01T00:00:00", "view", 5),   # dwell 30s (to next event)
            (1, "2024-01-01T00:00:30", "view", 7),   # dwell 60s
            (1, "2024-01-01T00:01:30", "view", 5),   # last event: excluded
            (2, "2024-01-01T00:00:00", "view", 5),   # dwell 10s
            (2, "2024-01-01T00:00:10", "view", 9),   # last: excluded
        ]
    ).withColumn("event_id", F.monotonically_increasing_id())
    got = {r.itemid: (r.n_dwells, r.avg_dwell_seconds)
           for r in item_dwell_time(ev).collect()}
    assert got[5] == (2, 20.0)  # (30 + 10) / 2
    assert got[7] == (1, 60.0)
    assert 9 not in got


def test_session_entry_exit_items(spark, make_events):
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.analytics import (
        session_entry_exit,
    )
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize

    ev = make_events(
        [
            (1, "2024-01-01T00:00:10", "view", 5),
            (1, "2024-01-01T00:00:20", "view", 7),
            (1, "2024-01-01T00:00:30", "view", 9),
            (2, "2024-01-01T00:00:10", "view", 5),  # single-item session
        ]
    ).withColumn("event_id", F.monotonically_increasing_id())
    got = {r.itemid: (r.entries, r.exits)
           for r in session_entry_exit(sessionize(ev)).collect()}
    assert got[5] == (2, 1)   # entry of both; exit of session 2
    assert got[9] == (0, 1)   # exit only
    assert 7 not in got       # middle item: neither entry nor exit -> absent


def test_top_paths_counts_and_order(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import top_paths
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize

    ev = make_events(
        [
            (1, "2024-01-01T00:00:10", "view", 1),
            (1, "2024-01-01T00:00:20", "addtocart", 1),
            (2, "2024-01-01T00:00:10", "view", 1),
            (2, "2024-01-01T00:00:20", "addtocart", 1),
            (3, "2024-01-01T00:00:10", "view", 1),
        ]
    )
    rows = top_paths(sessionize(ev), k=5).collect()
    assert [(r.path, r.n_sessions) for r in rows] == [
        ("view>addtocart", 2),
        ("view", 1),
    ]


def test_minute_anomalies_exact_stats(spark, make_events):
    """One day with a 100-event spike minute among 1-event minutes: only the
    spike is flagged, z matches the exact-integer formula; a single-minute
    day emits NULL z and NULL flag."""
    import math

    from clickestream_project_bigdata_spark.operators.analytics import minute_anomalies

    rows = []
    for m in range(10):
        rows.append((1, f"2024-01-01T10:0{m}:01", "view", 1))
    rows += [(1, "2024-01-01T10:05:30", "view", 1)] * 99  # spike in minute 5
    rows.append((2, "2024-01-02T00:00:00", "view", 1))    # lone-minute day
    got = {r.minute.isoformat(): r for r in minute_anomalies(make_events(rows)).collect()}
    counts = [1] * 10
    counts[5] = 100
    n, s, ss = len(counts), sum(counts), sum(c * c for c in counts)
    sd = math.sqrt((ss - s * s / n) / (n - 1))
    z5 = round((100 - s / n) / sd, 6)
    spike = got["2024-01-01T10:05:00"]
    assert spike.is_anomaly and abs(spike.zscore - z5) < 1e-9
    assert sum(1 for r in got.values() if r.is_anomaly) == 1
    lone = got["2024-01-02T00:00:00"]
    assert lone.zscore is None and lone.is_anomaly is None


def test_item_trend_exact_slope(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import item_trend

    rows = []
    # item 1: counts 1,2,3 on consecutive days -> slope exactly 1.0
    for day, cnt in ((1, 1), (2, 2), (3, 3)):
        rows += [(1, f"2024-01-0{day}T00:00:0{i}", "view", 1) for i in range(cnt)]
    # item 2: single day -> NULL slope
    rows.append((1, "2024-01-01T01:00:00", "view", 2))
    got = {r.itemid: r for r in item_trend(make_events(rows)).collect()}
    assert got[1].slope == 1.0 and got[1].n_days == 3 and got[1].total_events == 6
    assert got[2].slope is None and got[2].n_days == 1


def test_timed_funnel_windows_enforced(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import timed_funnel

    rows = [
        # user 1: full funnel inside both windows
        (1, "2024-01-01T10:00:00", "view", 1),
        (1, "2024-01-01T10:10:00", "click", 1),
        (1, "2024-01-01T12:00:00", "purchase", 1),
        # user 2: click 2h after view -> outside the 30-min window
        (2, "2024-01-01T10:00:00", "view", 1),
        (2, "2024-01-01T12:00:00", "click", 1),
        (2, "2024-01-01T12:01:00", "purchase", 1),
        # user 3: click BEFORE the first view -> not a progression
        (3, "2024-01-01T09:00:00", "click", 1),
        (3, "2024-01-01T10:00:00", "view", 1),
        # user 4: purchase 2 days after click -> outside the 24-h window
        (4, "2024-01-01T10:00:00", "view", 1),
        (4, "2024-01-01T10:05:00", "click", 1),
        (4, "2024-01-03T11:00:00", "purchase", 1),
    ]
    row = timed_funnel(make_events(rows)).collect()[0]
    assert (row.users_step1, row.users_step2, row.users_step3) == (4, 2, 1)


def test_concurrent_sessions_counts_open_sessions(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import (
        concurrent_sessions,
    )

    rows = [
        # session A: 10:00-10:02 (3 minutes)
        (1, "2024-01-01T10:00:10", "view", 1),
        (1, "2024-01-01T10:02:20", "view", 1),
        # session B overlaps only minute 10:01
        (2, "2024-01-01T10:01:30", "view", 1),
    ]
    got = {r.minute.isoformat(): r.active_sessions
           for r in concurrent_sessions(make_events(rows)).collect()}
    assert got == {
        "2024-01-01T10:00:00": 1,
        "2024-01-01T10:01:00": 2,
        "2024-01-01T10:02:00": 1,
    }


def test_bot_flags_thresholds(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import bot_flags

    rows = []
    # user 1: 25 events inside one minute -> bot
    rows += [(1, f"2024-01-01T10:00:{s:02d}", "view", 1) for s in range(25)]
    # user 2: bursty (12 in a minute) but tiny total -> not a bot
    rows += [(2, f"2024-01-01T10:00:{s:02d}", "view", 1) for s in range(12)]
    # user 3: high volume but spread out -> not a bot
    rows += [(3, f"2024-01-01T{h:02d}:01:00", "view", 1) for h in range(21)]
    got = {r.visitorid: r for r in bot_flags(make_events(rows)).collect()}
    assert got[1].is_bot and got[1].peak_per_minute == 25
    assert not got[2].is_bot and got[2].total_events == 12
    assert not got[3].is_bot and got[3].peak_per_minute == 1 and got[3].total_events == 21


def test_linear_attribution_splits_credit(spark):
    from clickestream_project_bigdata_spark.operators.analytics import (
        linear_attribution,
    )

    import datetime as dt

    def t(s):
        return dt.datetime.fromisoformat(s)

    rows = [
        # purchase at 12:00 with two prior views (items 10, 20) -> 0.5 each
        (1, "view", t("2024-01-01T10:00:00"), 10, 100, None),
        (1, "view", t("2024-01-01T11:00:00"), 20, 101, None),
        (1, "purchase", t("2024-01-01T12:00:00"), 20, 102, None),
        # view OUTSIDE the 24h horizon -> no credit
        (2, "view", t("2024-01-01T00:00:00"), 30, 103, None),
        (2, "purchase", t("2024-01-03T00:00:00"), 30, 104, None),
        # view AFTER the purchase -> no credit
        (3, "purchase", t("2024-01-01T09:00:00"), 40, 105, None),
        (3, "view", t("2024-01-01T10:00:00"), 40, 106, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "visitorid long, event string, event_time timestamp, itemid long, "
        "event_id long, value double",
    )
    got = {r.itemid: r for r in linear_attribution(ev).collect()}
    assert set(got) == {10, 20}
    assert got[10].credit == 0.5 and got[20].credit == 0.5
    assert got[10].conversions_touched == 1


def test_attribution_rejects_non_positive_horizon(spark):
    """ADVICE r14: the bucketed pair join divides by the horizon; under
    non-ANSI Spark a zero divisor yields NULL buckets — zero pairs
    SILENTLY — and a negative one breaks the two-bucket coverage proof.
    The contract failure must be loud at plan-build time."""
    import datetime as dt

    import pytest

    from clickestream_project_bigdata_spark.operators.analytics import (
        linear_attribution,
        position_attribution,
    )

    ev = spark.createDataFrame(
        [(1, "view", dt.datetime(2024, 1, 1), 10, 100, None)],
        "visitorid long, event string, event_time timestamp, itemid long, "
        "event_id long, value double",
    )
    # fractional horizons are rejected too: the bucket key truncates to
    # int while the range predicate would keep the fraction, so a touch
    # in the truncated-off tail would silently lose its pair
    for bad in (0, -3600, 1.5):
        with pytest.raises(ValueError, match="horizon"):
            linear_attribution(ev, horizon_s=bad)
        with pytest.raises(ValueError, match="horizon"):
            position_attribution(ev, horizon_s=bad)


def test_hourly_seasonality_iso_dow_and_shares(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import (
        hourly_seasonality,
    )

    rows = [
        (1, "2024-01-01T10:00:00", "view", 1),  # Monday -> dow 1
        (1, "2024-01-01T10:30:00", "view", 1),
        (1, "2024-01-07T23:00:00", "view", 1),  # Sunday -> dow 7
        (1, "2024-01-06T00:00:00", "view", 1),  # Saturday -> dow 6
    ]
    got = {(r.dow, r.hour): r for r in hourly_seasonality(make_events(rows)).collect()}
    assert got[(1, 10)].events_count == 2 and got[(1, 10)].share == 0.5
    assert got[(7, 23)].events_count == 1
    assert got[(6, 0)].events_count == 1
    assert abs(sum(r.share for r in got.values()) - 1.0) < 1e-9


def test_conversion_latency_bins_and_no_prior_view(spark):
    import datetime as dt

    from clickestream_project_bigdata_spark.operators.analytics import (
        conversion_latency_histogram,
    )

    def t(s):
        return dt.datetime.fromisoformat(s)

    rows = [
        # purchase 90s after last view -> bin 1 (60s bins)
        (1, "view", t("2024-01-01T10:00:00"), 1, 1, None),
        (1, "view", t("2024-01-01T10:01:00"), 1, 2, None),
        (1, "purchase", t("2024-01-01T10:02:30"), 1, 3, None),
        # purchase with NO prior view -> bin -1
        (2, "purchase", t("2024-01-01T09:00:00"), 2, 4, None),
        # instant conversion (same second, view ordered first by event_id) -> bin 0
        (3, "view", t("2024-01-01T08:00:00"), 3, 5, None),
        (3, "purchase", t("2024-01-01T08:00:00"), 3, 6, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "visitorid long, event string, event_time timestamp, itemid long, "
        "event_id long, value double",
    )
    got = {r.latency_bin: r.n_conversions
           for r in conversion_latency_histogram(ev).collect()}
    assert got == {1: 1, -1: 1, 0: 1}


def test_column_profile_nulls_and_distincts(spark):
    from clickestream_project_bigdata_spark.operators.analytics import column_profile

    ev = spark.createDataFrame(
        [
            (1, "view", None, 1.0),
            (1, "view", 5, None),
            (2, "click", 5, 2.5),
        ],
        "visitorid long, event string, itemid long, value double",
    )
    got = {r.column: r for r in column_profile(ev).collect()}
    assert got["visitorid"].n_rows == 3
    assert (got["visitorid"].n_nulls, got["visitorid"].n_distinct) == (0, 2)
    assert (got["itemid"].n_nulls, got["itemid"].n_distinct) == (1, 1)
    assert (got["value"].n_nulls, got["value"].n_distinct) == (1, 2)
    assert (got["event"].n_nulls, got["event"].n_distinct) == (0, 2)


def test_events_per_minute_dense_zero_fills(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import (
        events_per_minute_dense,
    )

    rows = [
        (1, "2024-01-01T10:00:05", "view", 1),
        (1, "2024-01-01T10:00:55", "view", 1),
        (1, "2024-01-01T10:03:30", "view", 1),  # minutes 01, 02 empty
    ]
    got = {r.minute.isoformat(): r.events_count
           for r in events_per_minute_dense(make_events(rows)).collect()}
    assert got == {
        "2024-01-01T10:00:00": 2,
        "2024-01-01T10:01:00": 0,
        "2024-01-01T10:02:00": 0,
        "2024-01-01T10:03:00": 1,
    }


def test_sequential_funnel_rejects_duplicate_steps(spark, make_events):
    import pytest as _pytest

    from clickestream_project_bigdata_spark.operators.analytics import (
        sequential_funnel,
    )
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize

    ev = sessionize(make_events([(1, "2024-01-01T10:00:00", "view", 1)]))
    with _pytest.raises(ValueError, match="distinct"):
        sequential_funnel(ev, ["view", "click", "view"])


def test_item_lift_math(spark, make_events):
    from clickestream_project_bigdata_spark.operators.analytics import item_lift
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize

    # 4 sessions (distinct visitors, one burst each):
    #   s1: {1,2}  s2: {1,2}  s3: {1,3}  s4: {3}
    rows = []
    for v, items in [(1, [1, 2]), (2, [1, 2]), (3, [1, 3]), (4, [3])]:
        for j, it in enumerate(items):
            rows.append((v, f"2024-01-01T10:00:0{j}", "view", it))
    got = {(r.item_a, r.item_b): r for r in item_lift(sessionize(make_events(rows)), min_both=1).collect()}
    # pair (1,2): n_both=2, n_1=3, n_2=2, N=4 -> lift = 2*4/(3*2) = 1.333333
    assert got[(1, 2)].n_both == 2
    assert abs(got[(1, 2)].lift - round(8 / 6, 6)) < 1e-9
    # pair (1,3): n_both=1, n_1=3, n_3=2 -> lift = 4/6
    assert abs(got[(1, 3)].lift - round(4 / 6, 6)) < 1e-9


def test_audience_overlap_hand_computed(spark, make_events):
    """3 users: u1 {view,click}, u2 {view}, u3 {view,click,purchase} —
    pairwise intersections and Jaccard check out by hand, pairs are
    unordered (event_a < event_b) and each appears once."""
    from clickestream_project_bigdata_spark.operators.analytics import audience_overlap

    ev = make_events(
        [
            (1, "2024-01-01T00:00:00", "view", 1),
            (1, "2024-01-01T00:00:01", "click", 1),
            (1, "2024-01-01T00:00:02", "view", 2),  # duplicate type, same user
            (2, "2024-01-01T00:00:00", "view", 1),
            (3, "2024-01-01T00:00:00", "view", 1),
            (3, "2024-01-01T00:00:01", "click", 1),
            (3, "2024-01-01T00:00:02", "purchase", 1),
        ]
    )
    got = {(r.event_a, r.event_b): r for r in audience_overlap(ev).collect()}
    assert set(got) == {("click", "view"), ("click", "purchase"), ("purchase", "view")}
    cv = got[("click", "view")]
    assert (cv.users_a, cv.users_b, cv.users_both) == (2, 3, 2)
    assert cv.jaccard == round(2 / 3, 6)
    cp = got[("click", "purchase")]
    assert (cp.users_a, cp.users_b, cp.users_both) == (2, 1, 1)
    assert cp.jaccard == 0.5


def test_audience_overlap_single_type_empty(spark, make_events):
    """One event type → no pairs; empty input → empty frame."""
    from clickestream_project_bigdata_spark.operators.analytics import audience_overlap

    only = make_events([(1, "2024-01-01T00:00:00", "view", 1)])
    assert audience_overlap(only).count() == 0
    assert audience_overlap(make_events([])).count() == 0


def test_pairwise_overlap_bitmask_matches_collect_set_fallback(spark):
    """The bit_or bitmask membership path (≤ 63 sets) and the collect_set
    fallback (forced via max_bitmask_sets=0) must agree row-for-row on the
    REAL sf0.01 visitor/hour-of-day frame (24 sets, 276 pairs) — the
    cap-equality discipline that protects the 100 TB story from a fast-path
    misconfiguration."""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.analytics import (
        pairwise_set_overlap,
    )
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
    )

    frame = events_from_fixture(spark, "/root/testdata/sf0.01").select(
        F.col("visitorid").alias("element"),
        F.hour("event_time").cast("string").alias("set_id"),
    )
    key = lambda r: (r.set_a, r.set_b)  # noqa: E731
    fast = sorted(pairwise_set_overlap(frame).collect(), key=key)
    slow = sorted(
        pairwise_set_overlap(frame, max_bitmask_sets=0).collect(), key=key
    )
    assert len(fast) > 0
    assert fast == slow


def test_zipf_slope_exact_power_law(spark, make_events):
    """Counts 8/4/2/1 over ranks 1..4 are an exact ln-ln line with slope
    −3·ln2/ln(24^(1/4))… easier: fit of y=ln c on x=ln r for a perfect
    Zipf-ish set gives r2 ≈ 1 and slope < 0; tie-ranking equals SQL
    rank() (pinned by the oracle, spot-checked here via n_items)."""
    from clickestream_project_bigdata_spark.operators.analytics import zipf_slope

    rows = []
    counts = {101: 8, 102: 4, 103: 2, 104: 1}
    sec = 0
    for item, c in counts.items():
        for _ in range(c):
            rows.append((1, f"2024-01-01T00:{sec // 60:02d}:{sec % 60:02d}", "view", item))
            sec += 1
    got = zipf_slope(make_events(rows)).collect()[0]
    assert got.n_items == 4
    assert got.slope < 0
    # ranks 1,2,3,4 with counts 8,4,2,1: not an exact line (ln2·[3,2,1,0]
    # vs ln[1,2,3,4]) but strongly negative and r2 high
    assert 0.9 < got.r2 <= 1.0


def test_zipf_slope_degenerate_uniform(spark, make_events):
    """All items tied → every point shares rank 1 → zero x-variance →
    NULL slope/intercept/r2 rather than a division error."""
    from clickestream_project_bigdata_spark.operators.analytics import zipf_slope

    ev = make_events(
        [
            (1, "2024-01-01T00:00:00", "view", 1),
            (1, "2024-01-01T00:00:01", "view", 2),
            (1, "2024-01-01T00:00:02", "view", 3),
        ]
    )
    got = zipf_slope(ev).collect()[0]
    assert got.n_items == 3
    assert got.slope is None and got.r2 is None


def test_gini_concentration_hand_computed(spark, make_events):
    """Counts [1,1,2] ascending → G = 2·(1·1+2·1+3·2)/(3·4) − 4/3 = 1/6;
    uniform counts → 0 exactly."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        gini_concentration,
    )

    rows = []
    sec = 0
    for item, c in [(1, 1), (2, 1), (3, 2)]:
        for _ in range(c):
            rows.append((1, f"2024-01-01T00:00:{sec:02d}", "view", item))
            sec += 1
    got = gini_concentration(make_events(rows)).collect()[0]
    assert (got.n_items, got.total_events) == (3, 4)
    assert got.gini == round(2 * 9 / (3 * 4) - 4 / 3, 6)

    uniform = make_events(
        [(1, f"2024-01-01T00:00:{i:02d}", "view", i + 1) for i in range(4)]
    )
    g2 = gini_concentration(uniform).collect()[0]
    assert g2.gini == 0.0


def test_burstiness_hand_computed(spark, make_events):
    """Item 1: minutes with counts [3,1] → mean 2, var 1, dispersion 0.5;
    item 2: single minute → dispersion 0."""
    from clickestream_project_bigdata_spark.operators.analytics import burstiness

    rows = (
        [(1, f"2024-01-01T00:00:{i:02d}", "view", 1) for i in range(3)]
        + [(1, "2024-01-01T00:01:00", "view", 1)]
        + [(2, "2024-01-01T00:05:00", "view", 2)]
    )
    got = {r.itemid: r for r in burstiness(make_events(rows)).collect()}
    a = got[1]
    assert (a.n_minutes, a.n_events) == (2, 4)
    assert a.dispersion == 0.5
    b = got[2]
    assert b.dispersion == 0.0


def test_novelty_rate_hand_computed(spark, make_events):
    """Day 1 introduces items {1,2} (novelty 1); day 2 sees {1,3} with
    only 3 new (novelty 0.5)."""
    from clickestream_project_bigdata_spark.operators.analytics import novelty_rate

    ev = make_events(
        [
            (1, "2024-01-01T10:00:00", "view", 1),
            (1, "2024-01-01T11:00:00", "view", 2),
            (1, "2024-01-01T12:00:00", "view", 1),  # repeat same day
            (2, "2024-01-02T10:00:00", "view", 1),
            (2, "2024-01-02T11:00:00", "view", 3),
        ]
    )
    got = {str(r.day): r for r in novelty_rate(ev).collect()}
    d1 = got["2024-01-01"]
    assert (d1.n_items, d1.n_new_items, d1.novelty) == (2, 2, 1.0)
    d2 = got["2024-01-02"]
    assert (d2.n_items, d2.n_new_items, d2.novelty) == (2, 1, 0.5)


def test_binned_quantiles_hand_computed(spark):
    """Values 0..9 at bin width 0.5: q50 = 5th value's bin edge (4.0),
    q90 = 9th (8.0), q99 = 10th (9.0); NaN and NULL excluded."""
    import datetime as dt
    import math

    from clickestream_project_bigdata_spark.operators.analytics import (
        binned_quantiles,
    )

    rows = [
        (1, "view", dt.datetime(2024, 1, 1, 0, 0, i), 1, float(i))
        for i in range(10)
    ] + [
        (1, "view", dt.datetime(2024, 1, 1, 0, 1, 0), 1, None),
        (1, "view", dt.datetime(2024, 1, 1, 0, 1, 1), 1, math.nan),
    ]
    ev = spark.createDataFrame(
        rows,
        "visitorid long, event string, event_time timestamp, itemid long, value double",
    )
    got = binned_quantiles(ev).collect()[0]
    assert got.n_values == 10
    assert got.q50_lo == 4.0
    assert got.q90_lo == 8.0
    assert got.q99_lo == 9.0


def test_decay_attribution_dyadic_weights(spark):
    """One conversion, three prior touches on items A,B,C (C most recent):
    weights 4/7, 2/7, 1/7; a second conversion with a single touch adds
    full credit 1.0 to its item."""
    import datetime as dt

    from clickestream_project_bigdata_spark.operators.analytics import (
        decay_attribution,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, "view", base + dt.timedelta(seconds=10), 100, 1),
        (1, "view", base + dt.timedelta(seconds=20), 200, 2),
        (1, "view", base + dt.timedelta(seconds=30), 300, 3),
        (1, "purchase", base + dt.timedelta(seconds=40), 300, 4),
        (2, "view", base + dt.timedelta(seconds=10), 100, 5),
        (2, "purchase", base + dt.timedelta(seconds=20), 100, 6),
    ]
    ev = spark.createDataFrame(
        rows, "visitorid long, event string, event_time timestamp, itemid long, event_id long"
    )
    got = {r.itemid: r for r in decay_attribution(ev).collect()}
    assert got[300].credit == round(4 / 7, 6)   # most recent touch
    assert got[200].credit == round(2 / 7, 6)
    assert got[100].credit == round(round(1 / 7, 12) + 1.0, 6)
    assert got[100].conversions_touched == 2
