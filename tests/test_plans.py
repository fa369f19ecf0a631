"""Plan-property pins: the scale-critical physical-plan shapes, asserted.

These catch silent regressions (an extra exchange, a lost broadcast, a
global sort or an interpreted lambda) that correctness tests can't see.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickestream_project_bigdata_spark.operators import analytics
from clickestream_project_bigdata_spark.plans import (
    count_exchanges,
    count_sort_merge_joins,
)

SF = "/root/testdata/sf0.01"


def test_latest_event_state_single_exchange_partial_max(spark, make_events):
    """CDC keep-latest must plan as partial max(struct) BEFORE one hash
    exchange — never a window over fully-shuffled rows."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        latest_event_state,
    )

    ev = make_events([(1, "2024-01-01T00:00:00", "view", 1)]).withColumn(
        "event_id", F.lit(1).cast("long")
    )
    df = latest_event_state(ev, keys=("visitorid", "itemid"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_exchanges(df) == 1
    assert "partial_max_by(struct" in plan, plan
    assert "Window" not in plan


def test_events_cube_single_exchange(spark, make_events):
    """CUBE expands grouping sets map-side: one exchange for all subsets."""
    from clickestream_project_bigdata_spark.operators.analytics import events_cube

    ev = make_events([(1, "2024-01-01T00:00:00", "view", 1)]).withColumn(
        "value", F.lit(1.0)
    )
    assert count_exchanges(events_cube(ev)) == 1


def test_sessionization_single_exchange(spark, make_events):
    """Both window functions and the rollup share one partitionBy(visitorid)
    shuffle — the core sessionization scale property."""
    from clickestream_project_bigdata_spark.operators.sessionize import (
        session_metrics,
        sessionize,
    )

    events = make_events([(1, "2024-01-01T00:00:00", "view", 1)])
    df = session_metrics(sessionize(events))
    # one exchange for the window, and the groupBy reuses the partitioning
    # (group keys are a superset of the window partition key after the
    # window's sort) — allow ≤2 but pin it so growth is visible
    assert count_exchanges(df) <= 2


def test_minute_metrics_single_exchange(spark, make_events):
    events = make_events([(1, "2024-01-01T00:00:00", "view", 1)])
    assert count_exchanges(analytics.events_per_minute(events)) <= 1
    assert count_exchanges(analytics.top_items(events)) <= 1


def test_pairwise_overlap_single_linear_pipeline(spark):
    """pairwise_set_overlap must stay one linear pipeline: exactly one
    big element-keyed exchange plus the two tiny windowed-total
    exchanges + AQE final — no joins of any kind (the fork-based shape
    re-ran the full explode per consumer), and no fact self-join."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        audience_overlap,
    )
    from clickestream_project_bigdata_spark.plans import (
        count_broadcast_joins,
        count_exchanges,
        count_sort_merge_joins,
    )
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
    )

    df = audience_overlap(events_from_fixture(spark, SF))
    assert count_exchanges(df) <= 4, df._jdf.queryExecution().toString()
    assert count_broadcast_joins(df) == 0
    assert count_sort_merge_joins(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


# --- round 8 plan shapes ---------------------------------------------------

def _ev8(spark, rows):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (v, e, base + dt.timedelta(seconds=s), it, i + 1)
            for i, (v, e, s, it) in enumerate(rows)
        ],
        "visitorid long, event string, event_time timestamp, "
        "itemid long, event_id long",
    )


def test_cart_abandonment_two_stacked_aggs_one_fact_shuffle(spark):
    """(item, visitor) flag collapse then item rollup: the fact shuffles
    once on the compound key; the rollup rides the collapsed grain (2
    exchanges total, no join, no sort-merge)."""
    ev = _ev8(spark, [(1, "view", 0, 5), (1, "purchase", 10, 5), (2, "view", 3, 5)])
    df = analytics.cart_abandonment_by_item(ev)
    assert count_exchanges(df) <= 2
    assert count_sort_merge_joins(df) == 0


def test_repeat_purchase_rate_no_join(spark):
    ev = _ev8(spark, [(1, "purchase", 0, 5), (1, "purchase", 9, 5)])
    df = analytics.repeat_purchase_rate(ev)
    assert count_exchanges(df) <= 2
    assert count_sort_merge_joins(df) == 0


def test_position_attribution_no_trailing_global_sort(spark):
    """Unbounded item grain: the plan must not end in a range-partition
    exchange (the VERDICT r7 #5 rule the attribution family follows)."""
    ev = _ev8(spark, [(1, "view", 0, 5), (1, "purchase", 30, 5)])
    df = analytics.position_attribution(ev)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower().replace(" ", "")


def test_first_touch_attribution_no_window_no_global_sort(spark):
    """Round 9: the fourth credit model is ONE min_by aggregation over the
    bounded range join — no rank window (the per-conversion argmin must not
    plan as row_number-over-partition) and no trailing range exchange."""
    ev = _ev8(spark, [(1, "view", 0, 5), (1, "purchase", 30, 5)])
    df = analytics.first_touch_attribution(ev)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "rangepartitioning" not in plan.lower().replace(" ", "")


def test_user_paths_no_interpreted_transform(spark):
    """The path family must extract struct fields via GetArrayStructFields
    (codegen), never a `transform(..., x -> x.event)` interpreted lambda —
    the 100x checkpoint measured the lambda spelling at 82-195 s vs 5-12 s
    (round-9 edition of the round-7 transform(sequence) lesson)."""
    from clickestream_project_bigdata_spark.operators.sessionize import (
        sessionize,
    )

    ev = spark.createDataFrame(
        [(1, "view", "2020-01-01 00:00:00", 10, 1, 1.0)],
        "visitorid long, event string, event_time string, itemid long, "
        "event_id long, value double",
    ).withColumn("event_time", F.to_timestamp("event_time"))
    s = sessionize(ev)
    for df in (
        analytics.user_paths(s),
        analytics.top_paths(s),
        analytics.path_conversion_rates(s),
    ):
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        # array_sort's default comparator desugars to a lambdafunction too —
        # the codegen-hostile pattern is specifically a transform() HOF
        assert "transform(" not in optimized, optimized[:2000]
