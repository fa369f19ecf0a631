"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus the
scale extensions) as ``(spark, sf_dir) -> DataFrame`` callables;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each. Column names are
aliased identically on both sides (the driver's compare hashes values under
sorted column names).

The fixture `events` table maps onto the canonical clickstream as
``user_id→visitorid``, ``event_type→event``, ``ts→event_time`` and the props
payload's integer as ``itemid`` (FIXTURES.md §4). Funnel steps for this
fixture's vocabulary: view → click → purchase.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from clickestream_project_bigdata_spark.functions import portable  # noqa: E402
from clickestream_project_bigdata_spark.operators import analytics  # noqa: E402
from clickestream_project_bigdata_spark.operators.sessionize import (  # noqa: E402
    session_metrics,
    sessionize,
)
from clickestream_project_bigdata_spark.sources.readers import (  # noqa: E402
    events_from_fixture,
    read_events_table,
)

FUNNEL_STEPS = ["view", "click", "purchase"]

#: Shared DuckDB CTE mapping the fixture events table onto the canonical
#: clickstream (mirror of `events_from_fixture`).
_EV = (
    "ev AS (SELECT user_id AS visitorid, event_type AS event, ts AS event_time, "
    "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events)"
)

#: Shared DuckDB CTE for gaps-and-islands sessionization (mirror of
#: `operators/sessionize.py`; gap strictly > 1800 s of floored-epoch seconds).
_SESSIONIZED = (
    _EV + ", "
    "lagged AS (SELECT *, lag(event_time) OVER (PARTITION BY visitorid ORDER BY event_time) AS prev_t FROM ev), "
    "flagged AS (SELECT *, CASE WHEN prev_t IS NULL OR date_diff('second', prev_t, event_time) > 1800 THEN 1 ELSE 0 END AS is_new FROM lagged), "
    "sessionized AS (SELECT *, CAST(visitorid AS VARCHAR) || '_' || CAST(SUM(is_new) OVER (PARTITION BY visitorid ORDER BY event_time ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS session_id FROM flagged)"
)


def _utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone: every time function here (date_trunc,
    date_format, unix_timestamp) must agree with DuckDB's naive timestamps
    regardless of how the caller built the session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: cleanse-mapped events → sessionize → session metrics."""
    events = events_from_fixture(_utc(spark), "/root/testdata/sf0.001")
    return session_metrics(sessionize(events))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_metrics(sessionize(events_from_fixture(spark, sf_dir)))


def _q_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = sessionize(events_from_fixture(spark, sf_dir))
    return analytics.user_paths(s).select(
        "visitorid",
        "session_id",
        F.concat_ws(">", F.col("user_path")).alias("path_str"),
    )


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = sessionize(events_from_fixture(spark, sf_dir))
    return analytics.funnel_analysis(s, FUNNEL_STEPS)


def _q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's data/test.ipynb EDA as a query (row count, null
    profile, cardinalities, time span)."""
    return analytics.profile_events(events_from_fixture(spark, sf_dir))


def _q_events_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_per_minute(events_from_fixture(spark, sf_dir))


def _q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.active_users(events_from_fixture(spark, sf_dir))


def _q_event_type_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.event_type_distribution(events_from_fixture(spark, sf_dir))


def _q_session_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = session_metrics(sessionize(events_from_fixture(spark, sf_dir)))
    return analytics.session_length_quantiles(m)


def _q_latest_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC keep-latest compaction per (visitorid, itemid)
    (operators/analytics.py:latest_event_state)."""
    return analytics.latest_event_state(events_from_fixture(_utc(spark), sf_dir))


def _q_value_quantiles_by_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event exact value percentiles (operators/analytics.py)."""
    return analytics.value_quantiles_by_event(events_from_fixture(spark, sf_dir))


def _q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(event, day) counts + exact value sums (operators/analytics.py)."""
    return analytics.events_cube(events_from_fixture(_utc(spark), sf_dir))


def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (operators/analytics.py)."""
    return analytics.value_histogram(events_from_fixture(spark, sf_dir), bin_width=10.0)


def _q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct visitors per day (operators/analytics.py)."""
    return analytics.rolling_active_users(events_from_fixture(_utc(spark), sf_dir), 7)


def _q_events_per_minute_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_per_minute_ma(events_from_fixture(spark, sf_dir), 5)


def _q_value_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.value_per_minute(events_from_fixture(spark, sf_dir))


def _q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.bounce_rate(events_from_fixture(spark, sf_dir))


def _q_top_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.top_items(events_from_fixture(spark, sf_dir))


def _q_top_k_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.top_k_items_per_minute(events_from_fixture(spark, sf_dir), k=3)


def _q_item_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.item_interactions(events_from_fixture(spark, sf_dir))


def _q_most_viewed_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.most_viewed_items(events_from_fixture(spark, sf_dir))


def _q_session_window_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization run in batch mode — same sessions
    as the gaps-and-islands operator (floored-second windows whose touching
    ranges merge, so the exact-gap boundary matches the strict-> predicate),
    with the stable start-epoch id."""
    from clickestream_project_bigdata_spark.streaming.sessions import (
        stateful_session_metrics,
    )

    return stateful_session_metrics(events_from_fixture(spark, sf_dir))


def _q_windowed_top_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``top_items`` as the streaming query runs it: the minute-grain
    analysis carries its watermark on the floored minute, and the same
    function serves batch, per-batch and streaming (the watermark is a
    no-op on a batch frame)."""
    return analytics.top_items(events_from_fixture(_utc(spark), sf_dir))


def _q_windowed_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bounce_rate`` as the streaming query runs it: two chained
    aggregations keyed on the watermarked minute, which append mode
    accepts on a stream."""
    return analytics.bounce_rate(events_from_fixture(_utc(spark), sf_dir))


def _q_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed_funnel (streaming/sessions.py:152) in batch mode:
    session-window flags rolled into tumbling hours. Sessions split on the
    batch operator's floored-second rule, and the chained window() buckets
    on the session window's END (floored last event + gap) minus one
    microsecond (pinned by the oracle SQL below)."""
    from clickestream_project_bigdata_spark.streaming import windowed_funnel

    return windowed_funnel(
        events_from_fixture(_utc(spark), sf_dir), steps=FUNNEL_STEPS
    )


def _q_active_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct visitors per hour via the portable KMV sketch
    (operators/analytics.py:active_users_kmv) — md5-derived hashes + rank,
    so the DuckDB oracle replays the estimator bit-for-bit (the HLL variant,
    ``active_users(exact=False)``, stays as the library's engine-native
    sketch; its estimates are engine-internal and only rows-checkable)."""
    return analytics.active_users_kmv(events_from_fixture(spark, sf_dir), k=32, grain="hour")


def _q_cleanse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NiFi cleanse semantics (N3-N5) applied to the fixture events: formatted
    UTC timestamp string, preserved epoch-ms, event_category derivation."""
    ev = read_events_table(spark, sf_dir)
    return ev.select(
        F.col("event_id"),
        F.date_format(F.timestamp_millis(F.unix_millis(F.col("ts"))), "yyyy-MM-dd HH:mm:ss").alias("ts_formatted"),
        F.unix_millis(F.col("ts")).alias("unix_ts_ms"),
        F.when(F.col("event_type") == "view", F.lit("Low Value"))
        .otherwise(F.lit("High Value"))
        .alias("event_category"),
    )


def _q_item_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift over session item pairs
    (operators/analytics.py)."""
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize as _sz

    return analytics.item_lift(_sz(events_from_fixture(spark, sf_dir)))


def _q_events_per_minute_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled minute series from a 1-row min/max spine
    (operators/analytics.py)."""
    return analytics.events_per_minute_dense(events_from_fixture(spark, sf_dir))


def _q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase latency histogram via a running last-view carry
    (operators/analytics.py)."""
    return analytics.conversion_latency_histogram(events_from_fixture(spark, sf_dir))


def _q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null/distinct data-quality profile in one scan
    (operators/analytics.py)."""
    return analytics.column_profile(events_from_fixture(spark, sf_dir))


def _q_trending_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch closed form of the decayed heavy hitters
    (operators/analytics.py)."""
    return analytics.trending_items(events_from_fixture(spark, sf_dir))


def _q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: purchase credit split equally over
    the visitor's views in the prior 24 h (operators/analytics.py)."""
    return analytics.linear_attribution(events_from_fixture(spark, sf_dir))


def _q_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour traffic heatmap with exact shares
    (operators/analytics.py)."""
    return analytics.hourly_seasonality(events_from_fixture(spark, sf_dir))


def _q_timed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with per-step completion windows: click within 30 min of the
    first view, purchase within 24 h of that click (operators/analytics.py)."""
    return analytics.timed_funnel(events_from_fixture(spark, sf_dir))


def _q_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute concurrent-session occupancy (operators/analytics.py)."""
    return analytics.concurrent_sessions(events_from_fixture(spark, sf_dir))


def _q_bot_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-visitor burst-rate bot heuristic (operators/analytics.py)."""
    return analytics.bot_flags(events_from_fixture(spark, sf_dir))


def _q_item_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item OLS trend of daily interactions from exact integer sums
    (operators/analytics.py)."""
    return analytics.item_trend(events_from_fixture(spark, sf_dir))


def _q_minute_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute traffic z-scores vs the day's exact-integer stats
    (operators/analytics.py)."""
    return analytics.minute_anomalies(events_from_fixture(spark, sf_dir))


def _q_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session landing/abandonment item distribution
    (operators/analytics.py:session_entry_exit)."""
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize

    return analytics.session_entry_exit(
        sessionize(events_from_fixture(_utc(spark), sf_dir))
    )


def _q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common exact session paths (operators/analytics.py:top_paths)."""
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize

    return analytics.top_paths(sessionize(events_from_fixture(_utc(spark), sf_dir)))


def _q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators/analytics.py:retention_cohorts)."""
    return analytics.retention_cohorts(events_from_fixture(_utc(spark), sf_dir))


def _q_item_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item dwell proxy (operators/analytics.py:item_dwell_time)."""
    return analytics.item_dwell_time(events_from_fixture(_utc(spark), sf_dir))


def _q_sequential_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel view→click→purchase
    (operators/analytics.py:sequential_funnel): chained conditional mins,
    exact sequential semantics (not first-touch)."""
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize

    ev = sessionize(events_from_fixture(_utc(spark), sf_dir))
    return analytics.sequential_funnel(ev, ["view", "click", "purchase"])


def _q_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level item co-occurrence top-100
    (operators/analytics.py:item_cooccurrence), 50-item session cap."""
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize

    ev = sessionize(events_from_fixture(_utc(spark), sf_dir))
    return analytics.item_cooccurrence(ev, k=100)


def _q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: minute × event-type counts in wide format with an
    explicit value list (operators/analytics.py:event_type_pivot)."""
    return analytics.event_type_pivot(events_from_fixture(spark, sf_dir))


def _with_utc(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(_utc(spark), sf_dir)

    wrapped.__name__ = fn.__name__
    return wrapped


def _q_item_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hottest items with row share (operators/analytics.py:key_skew_profile)."""
    return analytics.key_skew_profile(
        events_from_fixture(spark, sf_dir), key="itemid", k=10
    )


def _q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-visitor intersection + Jaccard between event
    types (operators/analytics.py): one visitor-keyed collect_set pass,
    pairs exploded per user, per-type totals broadcast back — the oracle
    keeps the DISTINCT + self-join spelling to pin the equivalence."""
    return analytics.audience_overlap(events_from_fixture(spark, sf_dir))


def _q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law (Zipf) fit of item popularity (operators/analytics.py):
    ln(count)~ln(rank) least squares, computed at count-value grain with
    group-size weights so no per-item global sort exists; the oracle runs
    the naive per-item rank() + regr_slope/intercept/r2 spelling."""
    return analytics.zipf_slope(events_from_fixture(spark, sf_dir))


def _q_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin quantile estimation over event values
    (operators/analytics.py) — the single-pass scale path beside the
    exact percentiles; exact integer bin arithmetic on both engines."""
    return analytics.binned_quantiles(events_from_fixture(spark, sf_dir))


def _q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of item popularity (operators/analytics.py) at
    count-value grain with DECIMAL(38,0) exact integer sums; oracle =
    naive per-item row_number spelling."""
    return analytics.gini_concentration(events_from_fixture(spark, sf_dir))


def _q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item per-minute dispersion index (operators/analytics.py),
    exact integer moment sums."""
    return analytics.burstiness(events_from_fixture(spark, sf_dir))


def _q_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day share of items making their global first appearance
    (operators/analytics.py)."""
    return analytics.novelty_rate(events_from_fixture(spark, sf_dir))


def _q_first_touch_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-visitor first-touch ordered funnel view->click->purchase
    (operators/analytics.py)."""
    return analytics.first_touch_funnel(
        events_from_fixture(spark, sf_dir), ["view", "click", "purchase"]
    )


def _q_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decay multi-touch attribution with exact dyadic weights
    (operators/analytics.py)."""
    return analytics.decay_attribution(events_from_fixture(spark, sf_dir))


def _q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch credit attribution: whole credit to the earliest
    in-horizon touch, exact integer counts (operators/analytics.py)."""
    return analytics.first_touch_attribution(events_from_fixture(spark, sf_dir))


# --- round 8 additions ------------------------------------------------------

def _q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (40/20/40) multi-touch attribution in exact integer ppm
    credits (operators/analytics.py) — completes the attribution family."""
    return analytics.position_attribution(events_from_fixture(spark, sf_dir))


def _q_cart_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item view-without-purchase abandonment (operators/analytics.py)."""
    return analytics.cart_abandonment_by_item(events_from_fixture(spark, sf_dir))


def _q_repeat_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item repeat-buyer structure (operators/analytics.py)."""
    return analytics.repeat_purchase_rate(events_from_fixture(spark, sf_dir))


def _q_path_conversion_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by session opening path (operators/analytics.py);
    user_paths' sorted-struct core with the convert flag in-aggregation."""
    s = sessionize(events_from_fixture(spark, sf_dir))
    return analytics.path_conversion_rates(s)


def _q_returning_visitor_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visitors active on 2+ distinct days (operators/analytics.py)."""
    return analytics.returning_visitor_rate(events_from_fixture(spark, sf_dir))


def _q_item_revisit_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item re-engagement cadence (operators/analytics.py:
    item_revisit_time): consecutive (visitor, item) gaps rolled up per
    item."""
    return analytics.item_revisit_time(events_from_fixture(spark, sf_dir))


def _q_session_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """log2 histogram of intra-visitor inter-event gaps (operators/
    analytics.py:session_gap_histogram) - the empirical basis for the
    1800 s session threshold."""
    return analytics.session_gap_histogram(events_from_fixture(spark, sf_dir))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _with_utc(fn) for name, fn in _QUERIES.items()}


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- registration order here is ROUGH grouping only; the driver-
        # sampling order is imposed by _SAMPLING_PRIORITY below (rule:
        # ever-FAILED > never-sampled > changed-this-round > rest).
        "binned_quantiles": _q_binned_quantiles,
        "gini_concentration": _q_gini_concentration,
        "burstiness": _q_burstiness,
        "novelty_rate": _q_novelty_rate,
        "audience_overlap": _q_audience_overlap,
        "zipf_slope": _q_zipf_slope,
        "item_trend": _q_item_trend,
        "trending_items": _q_trending_items,
        "conversion_latency": _q_conversion_latency,
        "events_per_minute_dense": _q_events_per_minute_dense,
        "item_lift": _q_item_lift,
        "events_column_profile": _q_column_profile,
        "linear_attribution": _q_linear_attribution,
        "hourly_seasonality": _q_hourly_seasonality,
        "timed_funnel": _q_timed_funnel,
        "concurrent_sessions": _q_concurrent_sessions,
        "bot_flags": _q_bot_flags,
        "minute_anomalies": _q_minute_anomalies,
        "event_type_pivot": _q_event_type_pivot,
        "sequential_funnel": _q_sequential_funnel,
        "item_cooccurrence": _q_item_cooccurrence,
        "retention_cohorts": _q_retention_cohorts,
        "item_dwell_time": _q_item_dwell_time,
        "session_entry_exit": _q_session_entry_exit,
        "top_paths": _q_top_paths,
        # changed this round (grouping_id added) - re-verify
        "events_cube": _q_events_cube,
        # driver-verified green in round 5
        "sessions": _q_sessions,
        "session_length_quantiles": _q_session_length_quantiles,
        "latest_event_state": _q_latest_event_state,
        "value_quantiles_by_event": _q_value_quantiles_by_event,
        "value_histogram": _q_value_histogram,
        "rolling_active_users": _q_rolling_active_users,
        "user_paths": _q_user_paths,
        "funnel_analysis": _q_funnel,
        "events_profile": _q_events_profile,
        "events_per_minute": _q_events_per_minute,
        "events_per_minute_ma": _q_events_per_minute_ma,
        "value_per_minute": _q_value_per_minute,
        "active_users": _q_active_users,
        "event_type_distribution": _q_event_type_distribution,
        "bounce_rate": _q_bounce_rate,
        "top_items": _q_top_items,
        "top_k_items_per_minute": _q_top_k_items,
        "item_interactions": _q_item_interactions,
        "most_viewed_items": _q_most_viewed_items,
        "session_window_sessions": _q_session_window_sessions,
        "windowed_top_items": _q_windowed_top_items,
        "windowed_bounce_rate": _q_windowed_bounce_rate,
        "windowed_funnel": _q_windowed_funnel,
        "item_skew_profile": _q_item_skew_profile,
        "active_users_approx": _q_active_users_approx,
        "cleanse_events": _q_cleanse,
        # --- round-7 additions (never sampled yet; prioritized below)
        "first_touch_funnel": _q_first_touch_funnel,
        "decay_attribution": _q_decay_attribution,
        "first_touch_attribution": _q_first_touch_attribution,
        # round 8
        "position_attribution": _q_position_attribution,
        "cart_abandonment": _q_cart_abandonment,
        "repeat_purchase_rate": _q_repeat_purchase_rate,
        "path_conversion_rates": _q_path_conversion_rates,
        "returning_visitor_rate": _q_returning_visitor_rate,
        "item_revisit_time": _q_item_revisit_time,
        "session_gap_histogram": _q_session_gap_histogram,
    }


# Driver-sampling order (the driver hash-checks a ~50-query PREFIX each
# round, so position IS the verification schedule). Rule, per VERDICT r6:
# queries whose LATEST driver signal is a FAIL outrank never-sampled ones,
# which outrank queries changed this round, which outrank the green tail.
_SAMPLING_PRIORITY: list[str] = [
    # Rule (VERDICT r6/r8 #7, r10 #4): latest-FAIL first (none — r15 went
    # 50/50 green), then never-sampled (none), then queries whose PLAN or
    # RESULTS changed this round, then oldest-green-first rotation.
    # Post-r15 staleness histogram (last driver-sampled round): r11=5,
    # r12=47, r13=47, r14=50, r15=50 — VERDICT r15 #5: this round drains
    # the r11 remainder so the post-r16 oldest vintage is r12.
    # 1) r11-vintage remainder (alphabetical) — both
    "value_quantiles_by_event",
    "zipf_slope",
    # 2) r12-vintage (alphabetical) — the
    #    next-oldest cohort fills the ~50-row sample; the tail rolls to
    #    the next round
    "cart_abandonment",
    "event_type_pivot",
    "events_column_profile",
    "first_touch_funnel",
    "gini_concentration",
    "item_cooccurrence",
    "item_dwell_time",
    "session_entry_exit",
    "timed_funnel",
]


def _apply_sampling_priority(
    qs: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    missing = [n for n in _SAMPLING_PRIORITY if n not in qs]
    assert not missing, f"_SAMPLING_PRIORITY names unknown queries: {missing}"
    head = set(_SAMPLING_PRIORITY)
    return {n: qs[n] for n in _SAMPLING_PRIORITY} | {
        n: f for n, f in qs.items() if n not in head
    }


_QUERIES = _apply_sampling_priority(_QUERIES)


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect)
# ---------------------------------------------------------------------------


# --- portable-sketch oracle builder ----------------------------------------
# Replays the md5-derived hash (functions/portable.py) in DuckDB SQL,
# interpolating the SAME Python constant the Spark plan uses — which is what
# makes the KMV sketch query hash-checkable.

def _kmv_sql(k: int = 32, grain: str = "hour") -> str:
    return (
        f"WITH {_EV}, "
        f"h AS (SELECT DISTINCT date_trunc('{grain}', event_time) AS bucket, "
        f"{portable.phash60_sql('CAST(visitorid AS VARCHAR)')} AS hh FROM ev), "
        "r AS (SELECT bucket, hh, row_number() OVER (PARTITION BY bucket ORDER BY hh) AS rn FROM h), "
        f"a AS (SELECT bucket, COUNT(*) AS n, MAX(CASE WHEN rn = {k} THEN hh END) AS hk "
        "FROM r GROUP BY bucket) "
        f"SELECT bucket, round(CASE WHEN n < {k} THEN CAST(n AS DOUBLE) "
        f"ELSE {float(k - 1)!r} * {float(portable.PHASH60_MAX)!r} / CAST(hk AS DOUBLE) END, 6) AS active_users_est "
        "FROM a"
    )


def oracle_sql() -> dict[str, str]:
    return {
        "binned_quantiles": (
            "WITH b AS (SELECT CAST(floor(value / CAST(0.5 AS DOUBLE)) AS BIGINT) AS bin, COUNT(*) AS c "
            "FROM events WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1), "
            "cw AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin ASC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b), "
            "t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_values FROM b) "
            "SELECT n_values, "
            "round(MIN(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n_values) THEN bin END) "
            "* CAST(0.5 AS DOUBLE), 6) AS q50_lo, "
            "round(MIN(CASE WHEN cum >= ceil(CAST(0.9 AS DOUBLE) * n_values) THEN bin END) "
            "* CAST(0.5 AS DOUBLE), 6) AS q90_lo, "
            "round(MIN(CASE WHEN cum >= ceil(CAST(0.99 AS DOUBLE) * n_values) THEN bin END) "
            "* CAST(0.5 AS DOUBLE), 6) AS q99_lo "
            "FROM cw CROSS JOIN t GROUP BY n_values"
        ),
        "gini_concentration": (
            "WITH ev AS (SELECT CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
            "c AS (SELECT itemid, COUNT(*) AS cnt FROM ev WHERE itemid IS NOT NULL GROUP BY itemid), "
            "r AS (SELECT cnt, row_number() OVER (ORDER BY cnt ASC, itemid ASC) AS i FROM c), "
            "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items, CAST(SUM(cnt) AS BIGINT) AS total_events, "
            "SUM(CAST(i AS HUGEINT) * cnt) AS t FROM r) "
            "SELECT n_items, total_events, "
            "round(2.0 * CAST(t AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(total_events AS DOUBLE)) "
            "- (CAST(n_items AS DOUBLE) + 1.0) / CAST(n_items AS DOUBLE), 6) + 0.0 AS gini "
            "FROM s"
        ),
        "burstiness": (
            "WITH ev AS (SELECT ts AS event_time, "
            "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
            "pm AS (SELECT itemid, date_trunc('minute', event_time) AS m, COUNT(*) AS c "
            "FROM ev WHERE itemid IS NOT NULL GROUP BY 1, 2), "
            "g AS (SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_minutes, "
            "CAST(SUM(c) AS BIGINT) AS n_events, CAST(SUM(c * c) AS BIGINT) AS ssq FROM pm GROUP BY itemid) "
            "SELECT itemid, n_minutes, n_events, "
            "round(((CAST(ssq AS DOUBLE) - CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE) "
            "/ CAST(n_minutes AS DOUBLE)) / CAST(n_minutes AS DOUBLE)) "
            "/ (CAST(n_events AS DOUBLE) / CAST(n_minutes AS DOUBLE)), 6) + 0.0 AS dispersion "
            "FROM g ORDER BY n_events DESC, itemid ASC LIMIT 100"
        ),
        "novelty_rate": (
            "WITH ev AS (SELECT CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid, "
            "date_trunc('day', ts) AS d FROM events), "
            "e2 AS (SELECT itemid, d FROM ev WHERE itemid IS NOT NULL), "
            "f AS (SELECT itemid, MIN(d) AS fd FROM e2 GROUP BY itemid), "
            "daily AS (SELECT DISTINCT itemid, d FROM e2) "
            "SELECT CAST(d AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_items, "
            "CAST(SUM(CASE WHEN d = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new_items, "
            "round(SUM(CASE WHEN d = fd THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS novelty "
            "FROM daily JOIN f USING (itemid) GROUP BY d"
        ),
        "audience_overlap": (
            "WITH ue AS (SELECT DISTINCT user_id AS visitorid, event_type AS event FROM events), "
            "per AS (SELECT event, COUNT(*) AS n FROM ue GROUP BY event), "
            "b AS (SELECT a.event AS event_a, c.event AS event_b, "
            "CAST(COUNT(*) AS BIGINT) AS users_both FROM ue a "
            "JOIN ue c ON a.visitorid = c.visitorid AND a.event < c.event GROUP BY 1, 2) "
            "SELECT event_a, event_b, CAST(pa.n AS BIGINT) AS users_a, "
            "CAST(pb.n AS BIGINT) AS users_b, users_both, "
            "round(users_both / CAST(pa.n + pb.n - users_both AS DOUBLE), 6) AS jaccard "
            "FROM b JOIN per pa ON pa.event = b.event_a "
            "JOIN per pb ON pb.event = b.event_b"
        ),
        "zipf_slope": (
            "WITH ev AS (SELECT CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
            "c AS (SELECT itemid, COUNT(*) AS cnt FROM ev WHERE itemid IS NOT NULL GROUP BY itemid), "
            "r AS (SELECT ln(CAST(cnt AS DOUBLE)) AS y, "
            "ln(CAST(rank() OVER (ORDER BY cnt DESC) AS DOUBLE)) AS x FROM c) "
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_items, "
            "round(regr_slope(y, x), 6) + 0.0 AS slope, "
            "round(regr_intercept(y, x), 6) + 0.0 AS intercept, "
            "round(regr_r2(y, x), 6) + 0.0 AS r2 FROM r"
        ),
        "sessions": (
            f"WITH {_SESSIONIZED} "
            "SELECT session_id, visitorid, MIN(event_time) AS session_start, "
            "MAX(event_time) AS session_end, COUNT(*) AS events_in_session, "
            "date_diff('second', MIN(event_time), MAX(event_time)) AS session_length "
            "FROM sessionized GROUP BY session_id, visitorid"
        ),
        "latest_event_state": (
            "WITH ev AS (SELECT user_id AS visitorid, event_type AS event, ts AS event_time, "
            "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid, event_id, value FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY visitorid, itemid "
            "ORDER BY event_time DESC, event_id DESC) AS rn FROM ev) "
            "SELECT visitorid, itemid, event_time, event_id, event, value "
            "FROM r WHERE rn = 1"
        ),
        "value_quantiles_by_event": (
            "SELECT event_type AS event, COUNT(*) AS n_events, "
            "round(quantile_cont(value, 0.5), 6) AS p50, "
            "round(quantile_cont(value, 0.9), 6) AS p90, "
            "round(quantile_cont(value, 0.99), 6) AS p99, "
            "round(CAST(AVG(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS avg_value "
            "FROM events GROUP BY event_type"
        ),
        "events_cube": (
            "SELECT event_type AS event, CAST(date_trunc('day', ts) AS DATE) AS day, "
            "CAST(COUNT(*) AS BIGINT) AS n_events, "
            "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value, "
            "CAST(GROUPING(event_type, day) AS BIGINT) AS gid "
            "FROM events GROUP BY CUBE (event_type, day)"
        ),
        "value_histogram": (
            "SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin, "
            "CAST(COUNT(*) AS BIGINT) AS n_events, "
            "round(CAST(floor(value / 10.0) AS BIGINT) * CAST(10.0 AS DOUBLE), 6) AS bin_start "
            "FROM events WHERE value IS NOT NULL GROUP BY 1"
        ),
        "rolling_active_users": (
            f"WITH {_EV}, "
            "daily AS (SELECT DISTINCT CAST(date_trunc('day', event_time) AS DATE) AS day, visitorid FROM ev), "
            "days AS (SELECT DISTINCT day FROM daily) "
            "SELECT days.day, CAST(COUNT(DISTINCT daily.visitorid) AS BIGINT) AS active_users "
            "FROM daily JOIN days ON days.day >= daily.day "
            "AND days.day <= daily.day + INTERVAL 6 DAY "
            "GROUP BY days.day"
        ),
        "session_length_quantiles": (
            f"WITH {_SESSIONIZED}, m AS ("
            "SELECT session_id, visitorid, COUNT(*) AS events_in_session, "
            "date_diff('second', MIN(event_time), MAX(event_time)) AS session_length "
            "FROM sessionized GROUP BY session_id, visitorid) "
            "SELECT COUNT(*) AS n_sessions, "
            "quantile_cont(session_length, 0.5) AS p50, "
            "quantile_cont(session_length, 0.9) AS p90, "
            "quantile_cont(session_length, 0.99) AS p99, "
            "round(AVG(events_in_session), 6) AS avg_events FROM m"
        ),
        "user_paths": (
            f"WITH {_SESSIONIZED} "
            "SELECT visitorid, session_id, "
            "string_agg(event, '>' ORDER BY event_time, event) AS path_str "
            "FROM sessionized GROUP BY visitorid, session_id"
        ),
        "funnel_analysis": (
            f"WITH {_SESSIONIZED}, flags AS ("
            "SELECT session_id, visitorid, "
            "MAX(CASE WHEN event='view' THEN 1 ELSE 0 END) AS v, "
            "MAX(CASE WHEN event='click' THEN 1 ELSE 0 END) AS c, "
            "MAX(CASE WHEN event='purchase' THEN 1 ELSE 0 END) AS p "
            "FROM sessionized GROUP BY session_id, visitorid) "
            'SELECT CAST(SUM(v) AS BIGINT) AS "view", CAST(SUM(c) AS BIGINT) AS click, '
            "CAST(SUM(p) AS BIGINT) AS purchase FROM flags"
        ),
        "events_profile": (
            f"WITH {_EV} "
            "SELECT COUNT(*) AS n_rows, COUNT(DISTINCT visitorid) AS n_visitors, "
            "COUNT(DISTINCT itemid) AS n_items, COUNT(DISTINCT event) AS n_event_types, "
            "CAST(SUM(CASE WHEN itemid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_itemid, "
            "MIN(event_time) AS first_event, MAX(event_time) AS last_event FROM ev"
        ),
        "events_per_minute": (
            f"WITH {_EV} "
            "SELECT date_trunc('minute', event_time) AS minute, COUNT(*) AS events_count "
            "FROM ev GROUP BY 1"
        ),
        "active_users": (
            f"WITH {_EV} "
            "SELECT date_trunc('minute', event_time) AS minute, "
            "COUNT(DISTINCT visitorid) AS active_users FROM ev GROUP BY 1"
        ),
        "event_type_distribution": (
            f"WITH {_EV} "
            "SELECT date_trunc('minute', event_time) AS minute, event, COUNT(*) AS event_count "
            "FROM ev GROUP BY 1, 2"
        ),
        "events_per_minute_ma": (
            f"WITH {_EV}, per_min AS ("
            "SELECT date_trunc('minute', event_time) AS minute, COUNT(*) AS events_count "
            "FROM ev GROUP BY 1) "
            "SELECT minute, events_count, "
            "round(AVG(events_count) OVER (ORDER BY epoch(minute) RANGE BETWEEN 240 PRECEDING AND CURRENT ROW), 6) AS ma_5m "
            "FROM per_min"
        ),
        "value_per_minute": (
            "SELECT date_trunc('minute', ts) AS minute, "
            "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value, "
            "round(AVG(value), 6) AS avg_value, COUNT(*) AS events_count "
            "FROM events GROUP BY 1"
        ),
        "bounce_rate": (
            f"WITH {_EV}, per_user AS ("
            "SELECT date_trunc('minute', event_time) AS minute, visitorid, COUNT(*) AS events "
            "FROM ev GROUP BY 1, 2) "
            "SELECT minute, CAST(SUM(CASE WHEN events=1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces, "
            "COUNT(*) AS total_users, "
            "CAST(SUM(CASE WHEN events=1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS bounce_rate "
            "FROM per_user GROUP BY minute"
        ),
        # windowed_top_items / windowed_bounce_rate are top_items /
        # bounce_rate (one function for batch and stream: date_trunc to the
        # minute, watermark a no-op in batch); windowed_funnel's sessions
        # are the batch operator's (floored-second gap > 1800 s), and its
        # chained hour window buckets on session_window.end - 1 µs, where
        # the end is the floored last event + 30 min
        "windowed_top_items": (
            f"WITH {_EV} "
            "SELECT date_trunc('minute', event_time) AS minute, itemid, "
            "COUNT(*) AS interactions FROM ev GROUP BY 1, 2"
        ),
        "windowed_bounce_rate": (
            f"WITH {_EV}, per_user AS ("
            "SELECT date_trunc('minute', event_time) AS minute, visitorid, COUNT(*) AS events "
            "FROM ev GROUP BY 1, 2) "
            "SELECT minute, CAST(SUM(CASE WHEN events=1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces, "
            "COUNT(*) AS total_users, "
            "CAST(SUM(CASE WHEN events=1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS bounce_rate "
            "FROM per_user GROUP BY minute"
        ),
        "windowed_funnel": (
            f"WITH {_SESSIONIZED}, "
            "fl AS (SELECT session_id, MAX(event_time) AS max_t, "
            "MAX(CASE WHEN event='view' THEN 1 ELSE 0 END) AS v, "
            "MAX(CASE WHEN event='click' THEN 1 ELSE 0 END) AS c, "
            "MAX(CASE WHEN event='purchase' THEN 1 ELSE 0 END) AS p "
            "FROM sessionized GROUP BY session_id) "
            "SELECT date_trunc('hour', date_trunc('second', max_t) + INTERVAL '30 minutes' - INTERVAL '1 microsecond') AS window_start, "
            'CAST(SUM(v) AS BIGINT) AS "view", CAST(SUM(c) AS BIGINT) AS click, '
            "CAST(SUM(p) AS BIGINT) AS purchase FROM fl GROUP BY 1"
        ),
        "top_items": (
            f"WITH {_EV} "
            "SELECT date_trunc('minute', event_time) AS minute, itemid, COUNT(*) AS interactions "
            "FROM ev GROUP BY 1, 2"
        ),
        "top_k_items_per_minute": (
            f"WITH {_EV}, counts AS ("
            "SELECT date_trunc('minute', event_time) AS minute, itemid, COUNT(*) AS interactions "
            "FROM ev GROUP BY 1, 2), ranked AS ("
            "SELECT *, row_number() OVER (PARTITION BY minute ORDER BY interactions DESC, itemid ASC) AS rank "
            "FROM counts) SELECT minute, itemid, interactions, CAST(rank AS INT) AS rank "
            "FROM ranked WHERE rank <= 3"
        ),
        "item_interactions": (
            f"WITH {_EV} SELECT itemid, COUNT(*) AS interaction_count FROM ev GROUP BY itemid"
        ),
        "most_viewed_items": (
            f"WITH {_EV} SELECT itemid, COUNT(*) AS view_count FROM ev "
            "WHERE event = 'view' GROUP BY itemid"
        ),
        "session_window_sessions": (
            f"WITH {_SESSIONIZED} "
            "SELECT CAST(visitorid AS VARCHAR) || '_' || "
            "CAST(CAST(floor(epoch(MIN(event_time))) AS BIGINT) AS VARCHAR) AS session_id, "
            "visitorid, MIN(event_time) AS session_start, "
            "MAX(event_time) AS session_end, COUNT(*) AS events_in_session, "
            "date_diff('second', MIN(event_time), MAX(event_time)) AS session_length "
            "FROM sessionized GROUP BY sessionized.session_id, visitorid"
        ),
        "active_users_approx": _kmv_sql(k=32, grain="hour"),
        "cleanse_events": (
            "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_formatted, "
            "epoch_ms(ts) AS unix_ts_ms, "
            "CASE WHEN event_type='view' THEN 'Low Value' ELSE 'High Value' END AS event_category "
            "FROM events"
        ),
        "item_lift": (
            f"WITH {_SESSIONIZED}, "
            "its AS (SELECT sessionized.session_id, "
            "list_slice(list_sort(list_distinct(list(itemid))), 1, 50) AS items "
            "FROM sessionized WHERE itemid IS NOT NULL GROUP BY sessionized.session_id), "
            "total AS (SELECT COUNT(*) AS N FROM its), "
            "sup AS (SELECT itemid, COUNT(*) AS s FROM "
            "(SELECT session_id, unnest(items) AS itemid FROM its) GROUP BY 1), "
            "pairs AS (SELECT items[i] AS item_a, items[j] AS item_b "
            "FROM its, LATERAL UNNEST(generate_series(1, len(items))) t1(i), "
            "LATERAL UNNEST(generate_series(1, len(items))) t2(j) WHERE j > i), "
            "pc AS (SELECT item_a, item_b, COUNT(*) AS n_both FROM pairs "
            "GROUP BY 1, 2 HAVING COUNT(*) >= 2) "
            "SELECT item_a, item_b, CAST(n_both AS BIGINT) AS n_both, "
            "round((CAST(n_both AS DOUBLE) * CAST(N AS DOUBLE)) / "
            "(CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 6) AS lift "
            "FROM pc JOIN sup sa ON item_a = sa.itemid "
            "JOIN sup sb ON item_b = sb.itemid, total "
            "ORDER BY n_both DESC, item_a ASC, item_b ASC LIMIT 100"
        ),
        "events_per_minute_dense": (
            f"WITH {_EV}, "
            "sparse AS (SELECT date_trunc('minute', event_time) AS minute, "
            "COUNT(*) AS c FROM ev GROUP BY 1), "
            "bounds AS (SELECT date_trunc('minute', MIN(event_time)) AS lo, "
            "date_trunc('minute', MAX(event_time)) AS hi FROM ev), "
            "spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) "
            "AS minute FROM bounds) "
            "SELECT spine.minute, CAST(COALESCE(c, 0) AS BIGINT) AS events_count "
            "FROM spine LEFT JOIN sparse ON spine.minute = sparse.minute"
        ),
        "conversion_latency": (
            "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
            "ts AS event_time, event_id, "
            "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
            "carried AS (SELECT *, last_value(CASE WHEN event = 'view' "
            "THEN event_time END IGNORE NULLS) OVER (PARTITION BY visitorid "
            "ORDER BY event_time, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt FROM ev2) "
            "SELECT CASE WHEN lt IS NULL THEN CAST(-1 AS BIGINT) "
            "ELSE CAST(floor(((epoch_us(event_time) - epoch_us(lt)) / 1000000.0) / 60) AS BIGINT) "
            "END AS latency_bin, COUNT(*) AS n_conversions "
            "FROM carried WHERE event = 'purchase' GROUP BY 1"
        ),
        "events_column_profile": (
            "WITH ev3 AS (SELECT user_id AS visitorid, event_type AS event, "
            "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid, value "
            "FROM events) "
            "SELECT 'visitorid' AS \"column\", COUNT(*) AS n_rows, "
            "CAST(SUM(CASE WHEN visitorid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
            "COUNT(DISTINCT visitorid) AS n_distinct FROM ev3 "
            "UNION ALL SELECT 'event', COUNT(*), "
            "CAST(SUM(CASE WHEN event IS NULL THEN 1 ELSE 0 END) AS BIGINT), "
            "COUNT(DISTINCT event) FROM ev3 "
            "UNION ALL SELECT 'itemid', COUNT(*), "
            "CAST(SUM(CASE WHEN itemid IS NULL THEN 1 ELSE 0 END) AS BIGINT), "
            "COUNT(DISTINCT itemid) FROM ev3 "
            "UNION ALL SELECT 'value', COUNT(*), "
            "CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT), "
            "COUNT(DISTINCT value) FROM ev3"
        ),
        "trending_items": (
            f"WITH {_EV}, "
            "wl AS (SELECT itemid, event_time, "
            "MAX(event_time) OVER (PARTITION BY itemid) AS last_t "
            "FROM ev WHERE itemid IS NOT NULL) "
            "SELECT itemid, MAX(last_t) AS last_event_time, "
            "round(SUM(exp(-0.00019254052769448875 * "
            "((epoch_us(last_t) - epoch_us(event_time)) / 1000000.0))), 6) "
            "AS decayed_count, COUNT(*) AS raw_events FROM wl GROUP BY itemid"
        ),
        "linear_attribution": (
            "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
            "ts AS event_time, event_id, "
            "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
            "conv AS (SELECT visitorid AS cv, event_time AS ct, event_id AS cid "
            "FROM ev2 WHERE event = 'purchase'), "
            "touch AS (SELECT visitorid AS tv, event_time AS tt, itemid "
            "FROM ev2 WHERE event = 'view' AND itemid IS NOT NULL), "
            "pairs AS (SELECT cid, itemid FROM conv JOIN touch ON cv = tv "
            "AND tt < ct AND tt >= ct - INTERVAL 86400 SECOND), "
            "fan AS (SELECT cid AS fcid, COUNT(*) AS n FROM pairs GROUP BY 1) "
            "SELECT itemid, CAST(COUNT(DISTINCT cid) AS BIGINT) AS conversions_touched, "
            "round(CAST(SUM(CAST(round(1.0 / n, 12) AS DECIMAL(18,12))) AS DOUBLE), 6) "
            "AS credit FROM pairs JOIN fan ON cid = fcid GROUP BY itemid"
        ),
        "hourly_seasonality": (
            f"WITH {_EV}, "
            "cells AS (SELECT CAST(isodow(event_time) AS INTEGER) AS dow, "
            "CAST(hour(event_time) AS INTEGER) AS hour, COUNT(*) AS events_count "
            "FROM ev GROUP BY 1, 2) "
            "SELECT dow, hour, events_count, "
            "round(CAST(events_count AS DOUBLE) / "
            "(SELECT CAST(SUM(events_count) AS DOUBLE) FROM cells), 6) AS share "
            "FROM cells"
        ),
        "timed_funnel": (
            f"WITH {_EV}, "
            "s1 AS (SELECT visitorid, MIN(event_time) AS t1 FROM ev "
            "WHERE event = 'view' GROUP BY 1), "
            "s2 AS (SELECT e.visitorid, MIN(event_time) AS t2 FROM ev e "
            "JOIN s1 ON e.visitorid = s1.visitorid WHERE event = 'click' "
            "AND event_time > t1 AND event_time <= t1 + INTERVAL 1800 SECOND "
            "GROUP BY 1), "
            "s3 AS (SELECT e.visitorid, MIN(event_time) AS t3 FROM ev e "
            "JOIN s2 ON e.visitorid = s2.visitorid WHERE event = 'purchase' "
            "AND event_time > t2 AND event_time <= t2 + INTERVAL 86400 SECOND "
            "GROUP BY 1) "
            "SELECT (SELECT COUNT(*) FROM s1) AS users_step1, "
            "(SELECT COUNT(*) FROM s2) AS users_step2, "
            "(SELECT COUNT(*) FROM s3) AS users_step3"
        ),
        "concurrent_sessions": (
            f"WITH {_SESSIONIZED}, "
            "s AS (SELECT session_id, MIN(event_time) AS st, MAX(event_time) AS en "
            "FROM sessionized GROUP BY 1), "
            "m AS (SELECT unnest(generate_series(date_trunc('minute', st), "
            "date_trunc('minute', en), INTERVAL 1 MINUTE)) AS minute FROM s) "
            "SELECT minute, COUNT(*) AS active_sessions FROM m GROUP BY 1"
        ),
        "bot_flags": (
            f"WITH {_EV}, "
            "pm AS (SELECT visitorid, date_trunc('minute', event_time) AS m, "
            "COUNT(*) AS c FROM ev GROUP BY 1, 2), "
            "pu AS (SELECT visitorid, SUM(c) AS total_events, "
            "COUNT(*) AS active_minutes, MAX(c) AS peak_per_minute FROM pm GROUP BY 1) "
            "SELECT visitorid, CAST(total_events AS BIGINT) AS total_events, "
            "CAST(active_minutes AS BIGINT) AS active_minutes, "
            "CAST(peak_per_minute AS BIGINT) AS peak_per_minute, "
            "peak_per_minute > 10 AND total_events >= 20 AS is_bot FROM pu"
        ),
        "item_trend": (
            f"WITH {_EV}, "
            "daily AS (SELECT itemid, "
            "date_diff('day', DATE '1995-01-01', CAST(date_trunc('day', event_time) AS DATE)) AS x, "
            "COUNT(*) AS y FROM ev WHERE itemid IS NOT NULL GROUP BY 1, 2), "
            "st AS (SELECT itemid, COUNT(*) AS n_days, SUM(y) AS total_events, "
            "SUM(x) AS sx, SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM daily GROUP BY 1) "
            "SELECT itemid, CAST(n_days AS BIGINT) AS n_days, "
            "CAST(total_events AS BIGINT) AS total_events, "
            "CASE WHEN n_days >= 2 AND "
            "CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0 "
            "THEN round((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE) - "
            "CAST(sx AS DOUBLE) * CAST(total_events AS DOUBLE)) / "
            "(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - "
            "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS slope FROM st"
        ),
        "minute_anomalies": (
            f"WITH {_EV}, "
            "pm AS (SELECT date_trunc('minute', event_time) AS minute, "
            "COUNT(*) AS events_count FROM ev GROUP BY 1), "
            "pmd AS (SELECT *, date_trunc('day', minute) AS day FROM pm), "
            "ds AS (SELECT day AS dday, COUNT(*) AS n, SUM(events_count) AS s, "
            "SUM(events_count * events_count) AS ss FROM pmd GROUP BY 1), "
            "j AS (SELECT minute, events_count, CASE WHEN n >= 2 AND "
            "n * ss - s * s > 0 THEN "
            "round((CAST(events_count AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / "
            "sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) "
            "/ (CAST(n AS DOUBLE) - 1.0)), 6) END AS zscore "
            "FROM pmd JOIN ds ON day = dday) "
            "SELECT minute, events_count, zscore, abs(zscore) > 2.0 AS is_anomaly FROM j"
        ),
        "session_entry_exit": (
            "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
            "ts AS event_time, event_id, "
            "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
            "lagged2 AS (SELECT *, lag(event_time) OVER (PARTITION BY visitorid "
            "ORDER BY event_time) AS prev_t FROM ev2), "
            "flagged2 AS (SELECT *, CASE WHEN prev_t IS NULL OR "
            "date_diff('second', prev_t, event_time) > 1800 THEN 1 ELSE 0 END "
            "AS is_new FROM lagged2), "
            "sess2 AS (SELECT *, CAST(visitorid AS VARCHAR) || '_' || "
            "CAST(SUM(is_new) OVER (PARTITION BY visitorid ORDER BY event_time "
            "ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS session_id FROM flagged2), "
            "r AS (SELECT session_id, itemid, "
            "row_number() OVER (PARTITION BY session_id "
            "ORDER BY event_time, event_id) AS rn_a, "
            "row_number() OVER (PARTITION BY session_id "
            "ORDER BY event_time DESC, event_id DESC) AS rn_d "
            "FROM sess2 WHERE itemid IS NOT NULL), "
            "f AS (SELECT session_id, MIN(CASE WHEN rn_a = 1 THEN itemid END) "
            "AS entry_item, MIN(CASE WHEN rn_d = 1 THEN itemid END) AS exit_item "
            "FROM r GROUP BY 1), "
            "e1 AS (SELECT entry_item AS itemid, CAST(COUNT(*) AS BIGINT) "
            "AS entries FROM f GROUP BY 1), "
            "e2 AS (SELECT exit_item AS itemid, CAST(COUNT(*) AS BIGINT) "
            "AS exits FROM f GROUP BY 1) "
            "SELECT COALESCE(e1.itemid, e2.itemid) AS itemid, "
            "COALESCE(entries, 0) AS entries, COALESCE(exits, 0) AS exits "
            "FROM e1 FULL OUTER JOIN e2 ON e1.itemid = e2.itemid"
        ),
        "top_paths": (
            f"WITH {_SESSIONIZED}, "
            "p AS (SELECT session_id, "
            "array_to_string(list(event ORDER BY event_time, event), '>') AS path "
            "FROM sessionized GROUP BY 1) "
            "SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM p "
            "GROUP BY 1 ORDER BY n_sessions DESC, path ASC LIMIT 20"
        ),
        "retention_cohorts": (
            f"WITH {_EV}, "
            "act AS (SELECT DISTINCT visitorid, "
            "CAST(date_trunc('week', event_time) AS DATE) AS period FROM ev), "
            "coh AS (SELECT visitorid, MIN(period) AS cohort FROM act GROUP BY 1), "
            "sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size "
            "FROM coh GROUP BY 1), "
            "j AS (SELECT coh.cohort, CAST(date_diff('day', coh.cohort, act.period) / 7.0 "
            "AS BIGINT) AS period_offset, act.visitorid "
            "FROM act JOIN coh USING (visitorid)) "
            "SELECT j.cohort, period_offset, "
            "CAST(COUNT(DISTINCT visitorid) AS BIGINT) AS active_visitors, "
            "sizes.cohort_size, "
            "round(CAST(COUNT(DISTINCT visitorid) AS DOUBLE) / cohort_size, 6) "
            "AS retention_rate "
            "FROM j JOIN sizes ON j.cohort = sizes.cohort "
            "GROUP BY 1, 2, sizes.cohort_size"
        ),
        "item_dwell_time": (
            "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
            "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
            "l AS (SELECT itemid, event_time, lead(event_time) OVER "
            "(PARTITION BY visitorid ORDER BY event_time, event_id) AS nxt FROM ev) "
            "SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_dwells, "
            "round(CAST(AVG(CAST(date_diff('second', event_time, nxt) AS DECIMAL(18,6))) "
            "AS DOUBLE), 6) AS avg_dwell_seconds "
            "FROM l WHERE nxt IS NOT NULL AND itemid IS NOT NULL GROUP BY 1"
        ),
        "sequential_funnel": (
            f"WITH {_SESSIONIZED}, "
            "s1 AS (SELECT session_id, visitorid, "
            "MIN(CASE WHEN event = 'view' THEN event_time END) AS t1 "
            "FROM sessionized GROUP BY 1, 2), "
            "s2 AS (SELECT e.session_id, e.visitorid, MIN(s1.t1) AS t1, "
            "MIN(CASE WHEN e.event = 'click' AND e.event_time > s1.t1 "
            "THEN e.event_time END) AS t2 "
            "FROM sessionized e JOIN s1 USING (session_id, visitorid) GROUP BY 1, 2), "
            "s3 AS (SELECT e.session_id, e.visitorid, MIN(s2.t1) AS t1, MIN(s2.t2) AS t2, "
            "MIN(CASE WHEN e.event = 'purchase' AND e.event_time > s2.t2 "
            "THEN e.event_time END) AS t3 "
            "FROM sessionized e JOIN s2 USING (session_id, visitorid) GROUP BY 1, 2) "
            "SELECT CAST(COUNT(t1) AS BIGINT) AS view_sessions, "
            "CAST(COUNT(t2) AS BIGINT) AS click_sessions, "
            "CAST(COUNT(t3) AS BIGINT) AS purchase_sessions FROM s3"
        ),
        "item_cooccurrence": (
            f"WITH {_SESSIONIZED}, "
            "its AS (SELECT session_id, "
            "list_slice(list_sort(list_distinct(list(itemid))), 1, 50) AS items "
            "FROM sessionized WHERE itemid IS NOT NULL GROUP BY session_id), "
            "pairs AS (SELECT items[i] AS item_a, items[j] AS item_b FROM its, "
            "LATERAL UNNEST(generate_series(1, len(items))) t1(i), "
            "LATERAL UNNEST(generate_series(1, len(items))) t2(j) "
            "WHERE j > i) "
            "SELECT item_a, item_b, CAST(COUNT(*) AS BIGINT) AS n_sessions "
            "FROM pairs GROUP BY 1, 2 "
            "ORDER BY n_sessions DESC, item_a ASC, item_b ASC LIMIT 100"
        ),
        "event_type_pivot": (
            f"WITH {_EV} "
            "SELECT date_trunc('minute', event_time) AS minute, "
            "CAST(SUM(CASE WHEN event = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click, "
            "CAST(SUM(CASE WHEN event = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error, "
            "CAST(SUM(CASE WHEN event = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase, "
            "CAST(SUM(CASE WHEN event = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup, "
            "CAST(SUM(CASE WHEN event = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view "
            "FROM ev GROUP BY 1"
        ),
        "item_skew_profile": (
            f"WITH {_EV}, c AS (SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_rows FROM ev GROUP BY 1), "
            "t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM ev) "
            "SELECT itemid, n_rows, round(n_rows / total, 6) AS share "
            "FROM c CROSS JOIN t ORDER BY n_rows DESC, itemid ASC LIMIT 10"
        ),
        "first_touch_funnel": (
            "WITH g AS (SELECT user_id AS visitorid, "
            "MIN(ts) FILTER (WHERE event_type = 'view') AS m0, "
            "MIN(ts) FILTER (WHERE event_type = 'click') AS m1, "
            "MIN(ts) FILTER (WHERE event_type = 'purchase') AS m2 "
            "FROM events GROUP BY user_id), "
            "k AS (SELECT visitorid, m0, m1, m2, "
            "CAST(CASE WHEN m0 IS NULL THEN 0 "
            "WHEN m1 IS NULL OR m1 < m0 THEN 1 "
            "WHEN m2 IS NULL OR m2 < m1 THEN 2 ELSE 3 END AS INT) AS steps_reached "
            "FROM g) "
            "SELECT visitorid, steps_reached, "
            "CASE WHEN steps_reached > 0 THEN m0 END AS view_time, "
            "CASE WHEN steps_reached > 1 THEN m1 END AS click_time, "
            "CASE WHEN steps_reached > 2 THEN m2 END AS purchase_time "
            "FROM k ORDER BY visitorid ASC"
        ),
        "first_touch_attribution": (
            "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
            "ts AS event_time, event_id, "
            "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
            "conv AS (SELECT visitorid AS cv, event_time AS ct, event_id AS cid "
            "FROM ev2 WHERE event = 'purchase'), "
            "touch AS (SELECT visitorid AS tv, event_time AS tt, event_id AS tid, itemid "
            "FROM ev2 WHERE event = 'view' AND itemid IS NOT NULL), "
            "pairs AS (SELECT cid, itemid, tt, tid FROM conv JOIN touch ON cv = tv "
            "AND tt < ct AND tt >= ct - INTERVAL 86400 SECOND), "
            "ranked AS (SELECT cid, itemid, row_number() OVER "
            "(PARTITION BY cid ORDER BY tt ASC, tid ASC) AS r FROM pairs) "
            "SELECT itemid, CAST(COUNT(*) AS BIGINT) AS conversions "
            "FROM ranked WHERE r = 1 GROUP BY itemid"
        ),
        "decay_attribution": (
            "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
            "ts AS event_time, event_id, "
            "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
            "conv AS (SELECT visitorid AS cv, event_time AS ct, event_id AS cid "
            "FROM ev2 WHERE event = 'purchase'), "
            "touch AS (SELECT visitorid AS tv, event_time AS tt, event_id AS tid, itemid "
            "FROM ev2 WHERE event = 'view' AND itemid IS NOT NULL), "
            "pairs AS (SELECT cid, itemid, tt, tid FROM conv JOIN touch ON cv = tv "
            "AND tt < ct AND tt >= ct - INTERVAL 86400 SECOND), "
            "ranked AS (SELECT cid, itemid, row_number() OVER "
            "(PARTITION BY cid ORDER BY tt DESC, tid ASC) AS r FROM pairs), "
            "kept AS (SELECT * FROM ranked WHERE r <= 20), "
            "fan AS (SELECT cid AS fcid, COUNT(*) AS m FROM kept GROUP BY 1) "
            "SELECT itemid, CAST(COUNT(DISTINCT cid) AS BIGINT) AS conversions_touched, "
            "round(CAST(SUM(CAST(round("
            "CAST(CAST(1 AS BIGINT) << (m - r) AS DOUBLE) / "
            "CAST((CAST(1 AS BIGINT) << m) - 1 AS DOUBLE), 12) AS DECIMAL(18,12))) "
            "AS DOUBLE), 6) AS credit "
            "FROM kept JOIN fan ON cid = fcid GROUP BY itemid"
        ),
        # --- round 8 ---
        "position_attribution": (
            "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
            "ts AS event_time, event_id, "
            "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
            "conv AS (SELECT visitorid AS cv, event_time AS ct, event_id AS cid "
            "FROM ev2 WHERE event = 'purchase'), "
            "touch AS (SELECT visitorid AS tv, event_time AS tt, event_id AS tid, itemid "
            "FROM ev2 WHERE event = 'view' AND itemid IS NOT NULL), "
            "pairs AS (SELECT cid, itemid, tt, tid FROM conv JOIN touch ON cv = tv "
            "AND tt < ct AND tt >= ct - INTERVAL 86400 SECOND), "
            "ranked AS (SELECT cid, itemid, row_number() OVER "
            "(PARTITION BY cid ORDER BY tt DESC, tid ASC) AS rr FROM pairs), "
            "kept AS (SELECT * FROM ranked WHERE rr <= 20), "
            "fan AS (SELECT cid AS fcid, COUNT(*) AS m FROM kept GROUP BY 1), "
            "cred AS (SELECT cid, itemid, CASE WHEN m = 1 THEN 1000000 "
            "WHEN m = 2 THEN 500000 "
            "WHEN (m - rr + 1) = 1 THEN 400000 WHEN (m - rr + 1) = m THEN 400000 "
            "ELSE 200000 // (m - 2) END AS ppm FROM kept JOIN fan ON cid = fcid) "
            "SELECT itemid, CAST(COUNT(DISTINCT cid) AS BIGINT) AS conversions_touched, "
            "CAST(SUM(ppm) AS BIGINT) AS credit_ppm FROM cred GROUP BY itemid"
        ),
        "cart_abandonment": (
            f"WITH {_EV}, "
            "per AS (SELECT itemid, visitorid, "
            "MAX(CASE WHEN event = 'view' THEN 1 ELSE 0 END) AS v, "
            "MAX(CASE WHEN event = 'purchase' THEN 1 ELSE 0 END) AS p "
            "FROM ev WHERE itemid IS NOT NULL AND event IN ('view', 'purchase') "
            "GROUP BY 1, 2) "
            "SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_viewers, "
            "CAST(SUM(p) AS BIGINT) AS n_buyers, "
            "CAST(COUNT(*) - SUM(p) AS BIGINT) AS n_abandoned, "
            "round((COUNT(*) - SUM(p)) / CAST(COUNT(*) AS DOUBLE), 6) "
            "AS abandonment_rate FROM per WHERE v = 1 GROUP BY itemid"
        ),
        "repeat_purchase_rate": (
            f"WITH {_EV}, "
            "per AS (SELECT itemid, visitorid, COUNT(*) AS n FROM ev "
            "WHERE event = 'purchase' AND itemid IS NOT NULL GROUP BY 1, 2) "
            "SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_buyers, "
            "CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_buyers, "
            "CAST(SUM(n) AS BIGINT) AS n_purchases, "
            "round(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) "
            "AS repeat_rate FROM per GROUP BY itemid"
        ),
        "path_conversion_rates": (
            "WITH ev AS (SELECT user_id AS visitorid, event_type AS event, "
            "ts AS event_time, event_id FROM events), "
            "lagged AS (SELECT *, lag(event_time) OVER "
            "(PARTITION BY visitorid ORDER BY event_time) AS prev_t FROM ev), "
            "flagged AS (SELECT *, CASE WHEN prev_t IS NULL OR "
            "date_diff('second', prev_t, event_time) > 1800 THEN 1 ELSE 0 END "
            "AS is_new FROM lagged), "
            "sz AS (SELECT *, CAST(visitorid AS VARCHAR) || '_' || "
            "CAST(SUM(is_new) OVER (PARTITION BY visitorid ORDER BY event_time "
            "ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS session_id FROM flagged), "
            "per AS (SELECT session_id, array_to_string("
            "(list(event ORDER BY event_time, event_id))[1:3], '>') AS path_prefix, "
            "MAX(CASE WHEN event = 'purchase' THEN 1 ELSE 0 END) AS c "
            "FROM sz GROUP BY session_id) "
            "SELECT path_prefix, CAST(COUNT(*) AS BIGINT) AS n_sessions, "
            "CAST(SUM(c) AS BIGINT) AS n_converted, "
            "round(SUM(c) / CAST(COUNT(*) AS DOUBLE), 6) AS conversion_rate "
            "FROM per GROUP BY path_prefix"
        ),
        "returning_visitor_rate": (
            "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time FROM events), "
            "per AS (SELECT visitorid, COUNT(DISTINCT CAST(event_time AS DATE)) AS d "
            "FROM ev GROUP BY 1) "
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_visitors, "
            "CAST(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_returning, "
            "round(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) / "
            "CAST(COUNT(*) AS DOUBLE), 6) AS returning_rate FROM per"
        ),
        "item_revisit_time": (
            "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
            "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
            "g AS (SELECT itemid, date_diff('second', event_time, "
            "lead(event_time) OVER (PARTITION BY visitorid, itemid "
            "ORDER BY event_time, event_id)) AS gap "
            "FROM ev WHERE itemid IS NOT NULL) "
            "SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_revisits, "
            "round(AVG(gap), 6) AS avg_revisit_s, "
            "CAST(MAX(gap) AS BIGINT) AS max_revisit_s "
            "FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 5"
        ),
        "session_gap_histogram": (
            "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id "
            "FROM events), "
            "g AS (SELECT date_diff('second', event_time, "
            "lead(event_time) OVER (PARTITION BY visitorid "
            "ORDER BY event_time, event_id)) AS gap FROM ev), "
            "b AS (SELECT CAST(floor(log2(gap + 1)) AS BIGINT) AS gap_bucket "
            "FROM g WHERE gap IS NOT NULL) "
            "SELECT gap_bucket, "
            "CAST(pow(2.0, gap_bucket) - 1 AS BIGINT) AS bucket_min_s, "
            "CAST(COUNT(*) AS BIGINT) AS n_gaps FROM b GROUP BY 1"
        ),
    }
