"""Empty-input hardening: every major operator must return an EMPTY frame
with its normal schema (not raise) on zero-row input — the behavior a
production pipeline needs when a partition, day, or filter comes up empty.
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def empty_events(spark):
    return spark.createDataFrame(
        [],
        "visitorid long, event string, event_time timestamp, itemid long, "
        "event_id long, value double",
    )


def test_analytics_on_empty_events(spark, empty_events):
    from clickestream_project_bigdata_spark.operators import analytics
    from clickestream_project_bigdata_spark.operators.sessionize import (
        session_metrics,
        sessionize,
    )

    assert session_metrics(sessionize(empty_events)).count() == 0
    assert analytics.events_per_minute(empty_events).count() == 0
    assert analytics.bounce_rate(empty_events).count() == 0
    assert analytics.top_k_items_per_minute(empty_events).count() == 0
    # NB Spark returns ZERO rows for CUBE over empty input (no grand-total
    # row); ANSI engines may emit one for the () grouping set — documented
    # divergence, only observable on fully-empty input
    assert analytics.events_cube(empty_events).count() == 0
    assert analytics.value_histogram(empty_events).count() == 0
    assert analytics.rolling_active_users(empty_events).count() == 0
    assert analytics.latest_event_state(empty_events).count() == 0
    # global aggregates return one row of zero/null counts
    [p] = analytics.profile_events(empty_events).collect()
    assert p.n_rows == 0


def test_driver_contract_keys_aligned():
    """Every queries() entry has an oracle_sql() twin and vice versa — the
    correctness gate covers the WHOLE query surface (a query added without
    its oracle would silently skip the value-hash check). Every oracle also
    binds against a DuckDB catalog holding the `events` table alone: the
    registry reads no other input."""
    import duckdb

    import __spark_entry__ as e

    oracles = e.oracle_sql()
    q, o = set(e.queries()), set(oracles)
    assert q == o, (sorted(q - o), sorted(o - q))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/events.parquet')"
    )
    unbound = {}
    for name, sql in oracles.items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except duckdb.Error as exc:
            unbound[name] = f"{type(exc).__name__}: {exc}"
    assert not unbound, unbound


def test_round6_operators_on_empty_inputs(spark, empty_events):
    from clickestream_project_bigdata_spark.operators import analytics

    assert analytics.minute_anomalies(empty_events).count() == 0
    assert analytics.item_trend(empty_events).count() == 0
    assert analytics.concurrent_sessions(empty_events).count() == 0
    assert analytics.bot_flags(empty_events).count() == 0
    # timed_funnel aggregates to a single zero row even on empty input
    row = analytics.timed_funnel(empty_events).collect()[0]
    assert (row.users_step1, row.users_step2, row.users_step3) == (0, 0, 0)


def test_round6_final_operators_on_empty_inputs(spark, empty_events):
    """The round-6-final operators: empty in → empty (or single all-NULL
    aggregate row where the operator is a global aggregate) — never an
    error."""
    from clickestream_project_bigdata_spark.operators import analytics

    assert analytics.audience_overlap(empty_events).count() == 0
    assert analytics.burstiness(empty_events).count() == 0
    assert analytics.novelty_rate(empty_events).count() == 0

    # global aggregates return their one row with NULL metrics
    z = analytics.zipf_slope(empty_events).collect()
    assert len(z) == 1 and z[0].slope is None
    g = analytics.gini_concentration(empty_events).collect()
    assert len(g) == 1 and g[0].gini is None


def test_round7_operators_on_empty_inputs(spark, empty_events):
    from clickestream_project_bigdata_spark.operators import analytics

    assert analytics.first_touch_funnel(empty_events).count() == 0
    assert analytics.decay_attribution(empty_events).count() == 0
