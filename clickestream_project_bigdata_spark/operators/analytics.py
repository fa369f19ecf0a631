"""The reference's 10 analyses as pure ``DataFrame -> DataFrame`` operators.

Each function mirrors one analysis in `/root/reference/stream_processor.py`
(file:line cited per function) but is a side-effect-free library operator —
sinks are the caller's concern (`streaming/driver.py` reproduces the
10-sink fan-out). All operators are built-in Catalyst expressions: one
shuffle each (on their group keys), map-side partial aggregation for free,
whole-stage codegen end to end, no Python in the data path.

One definition per analysis: each runs unchanged on a static frame (batch,
or one micro-batch inside ``foreachBatch``) or on a streaming frame (a
cross-batch query). :func:`with_minute` declares the event-time watermark
on the floored ``minute`` it creates (:data:`MINUTE_WATERMARK`), so the five
minute-grain analyses run in append mode on a stream (``active_users`` with
``exact=False``). A minute is emitted once, after a micro-batch brings a
minute at least ``MINUTE_WATERMARK`` later; events that arrive for it after
that are dropped. ``item_interactions`` and ``most_viewed_items`` are
running counts per item; on a stream they run in update or complete mode.
In batch the watermark is a no-op: Spark drops it from the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sessionize import session_metrics, sessionize

DEFAULT_FUNNEL_STEPS = ["view", "addtocart", "transaction"]
MINUTE_WATERMARK = "10 minutes"


def profile_events(events: DataFrame) -> DataFrame:
    """Dataset profile — the reference's manual EDA (`data/test.ipynb`:
    row count, null profile, id cardinalities, time span) as one
    distributed aggregation instead of a pandas notebook. Exact distincts
    here because the profile is a one-off; the streaming/continuous
    variants use the sketches (`active_users_kmv` / HLL)."""
    return events.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("visitorid").alias("n_visitors"),
        F.count_distinct("itemid").alias("n_items"),
        F.count_distinct("event").alias("n_event_types"),
        F.sum(F.when(F.col("itemid").isNull(), 1).otherwise(0)).cast("long").alias("null_itemid"),
        F.min("event_time").alias("first_event"),
        F.max("event_time").alias("last_event"),
    )


def with_minute(df: DataFrame, ts_col: str = "event_time") -> DataFrame:
    """Minute grain used by 5 of the 10 analyses (`stream_processor.py:236,256,273,290,319`),
    with the event-time watermark on the floored ``minute`` so the same
    aggregates run in append mode on a stream (a no-op in batch).

    ``date_trunc`` rather than ``F.window``: window grouping adds
    ``isnotnull(event_time)``, which would drop the NULL-minute row a
    malformed timestamp yields in batch."""
    return df.withColumn(
        "minute", F.date_trunc("minute", F.col(ts_col))
    ).withWatermark("minute", MINUTE_WATERMARK)


def events_per_minute(events: DataFrame) -> DataFrame:
    """Analysis 4 (`stream_processor.py:234-248`)."""
    return (
        with_minute(events)
        .groupBy("minute")
        .agg(F.count("*").alias("events_count"))
    )


def active_users(events: DataFrame, *, exact: bool = True, rsd: float = 0.02) -> DataFrame:
    """Analysis 5 (`stream_processor.py:254-266`): exact distinct visitors per
    minute. ``exact=False`` switches to HyperLogLog++ (`approx_count_distinct`)
    — at 100 TB an exact per-minute distinct is a full shuffle of every
    (minute, visitorid) pair; the sketch is one pass, mergeable, and ~0.8 kB
    of state per minute. It is also the form that runs on a stream: Spark
    has no streaming exact distinct."""
    agg = (
        F.count_distinct("visitorid")
        if exact
        else F.approx_count_distinct("visitorid", rsd)
    )
    return with_minute(events).groupBy("minute").agg(agg.alias("active_users"))


def active_users_kmv(
    events: DataFrame, k: int = 32, grain: str = "hour"
) -> DataFrame:
    """Approximate distinct visitors per time bucket via a **portable KMV
    (k-minimum-values) sketch**: hash every visitor to a uniform 60-bit
    integer; if a bucket holds fewer than ``k`` distinct hashes the count is
    exact, else estimate ``(k−1) · 2⁶⁰ / h_k`` from the k-th smallest hash.

    Same state-boundedness argument as HLL (O(k) per bucket, mergeable by
    keeping the k smallest of a union), but built entirely from md5-derived
    hashes + rank — reproducible bit-for-bit by any SQL engine, which is what
    lets the DuckDB oracle hash-check this query while `approx_count_distinct`
    (engine-internal HLL) is checkable only as rows. Scale shape: one
    distinct-shuffle on (bucket, hash) then one ranked pass — at 100 TB you'd
    swap the exact distinct for the sketch's streaming fold, same estimator.
    """
    from ..functions.portable import PHASH60_MAX, phash60

    bucketed = events.select(
        F.date_trunc(grain, F.col("event_time")).alias("bucket"),
        phash60(F.col("visitorid").cast("string")).alias("__h"),
    ).distinct()
    w = Window.partitionBy("bucket").orderBy(F.asc("__h"))
    ranked = bucketed.withColumn("__rn", F.row_number().over(w))
    agg = ranked.groupBy("bucket").agg(
        F.count("*").alias("__n"),
        F.max(F.when(F.col("__rn") == k, F.col("__h"))).alias("__hk"),
    )
    est = F.when(F.col("__n") < k, F.col("__n").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(PHASH60_MAX)) / F.col("__hk").cast("double")
    )
    return agg.select("bucket", F.round(est, 6).alias("active_users_est"))


def event_type_distribution(events: DataFrame) -> DataFrame:
    """Analysis 6 (`stream_processor.py:271-284`)."""
    return (
        with_minute(events)
        .groupBy("minute", "event")
        .agg(F.count("*").alias("event_count"))
    )


def event_type_pivot(
    events: DataFrame,
    event_types: tuple[str, ...] = ("click", "error", "purchase", "signup", "view"),
) -> DataFrame:
    """Minute × event-type counts PIVOTED to one column per type — the
    wide-format sibling of :func:`event_type_distribution` (dashboards and
    feature matrices want columns, not rows).

    The value list is EXPLICIT (``pivot(col, values)``): with values given,
    Catalyst plans a single pivot_first aggregation — one shuffle on the
    minute key, same as the long-format count; without them Spark must run
    an extra distinct-collect job to discover the columns, and the output
    schema becomes data-dependent (a new event type would silently widen
    the table — wrong for a stable sink contract)."""
    return (
        with_minute(events)
        .groupBy("minute")
        .pivot("event", list(event_types))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(event_types))
    )


def bounce_rate(events: DataFrame) -> DataFrame:
    """Analysis 7 (`stream_processor.py:289-312`): two-level aggregate —
    events per (minute, visitor), then per-minute share of single-event
    visitors. Both aggregates shuffle on ``minute``-prefixed keys; the second
    is a near-free partial over the first. On a stream both are stateful
    aggregates keyed on the watermarked minute, which append mode accepts
    as a chain (Spark ≥ 3.5)."""
    per_user = (
        with_minute(events)
        .groupBy("minute", "visitorid")
        .agg(F.count("*").alias("events"))
    )
    return (
        per_user.groupBy("minute")
        .agg(
            F.sum(F.when(F.col("events") == 1, 1).otherwise(0)).alias("bounces"),
            F.count("*").alias("total_users"),
        )
        .withColumn("bounce_rate", F.col("bounces") / F.col("total_users"))
    )


def top_items(events: DataFrame) -> DataFrame:
    """Analysis 8 (`stream_processor.py:317-330`). NB: the reference's
    "top items" is an *unranked* (minute, item) count — ranking was left to
    downstream SQL. Reproduced exactly; see :func:`top_k_items_per_minute`
    for a true top-k."""
    return (
        with_minute(events)
        .groupBy("minute", "itemid")
        .agg(F.count("*").alias("interactions"))
    )


def top_k_items_per_minute(events: DataFrame, k: int = 5) -> DataFrame:
    """True top-k extension (SURVEY §2.7): rank item counts within each
    minute. Deterministic tie-break on itemid. The window partitions by
    minute — same shuffle key as the count, so no extra exchange."""
    counts = top_items(events)
    w = Window.partitionBy("minute").orderBy(
        F.desc("interactions"), F.asc("itemid")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def value_per_minute(events: DataFrame, value_col: str = "value") -> DataFrame:
    """Per-minute sum/mean of a numeric event payload (e.g. order value) —
    the monetized sibling of events_per_minute. DECIMAL accumulation for a
    cross-engine-stable sum (double summation order varies per partitioning)."""
    return (
        with_minute(events)
        .groupBy("minute")
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double").alias("total_value"),
            F.round(F.avg(F.col(value_col)), 6).alias("avg_value"),
            F.count("*").alias("events_count"),
        )
    )


def events_per_minute_ma(events: DataFrame, window_minutes: int = 5) -> DataFrame:
    """Rolling mean of per-minute event counts over a RANGE frame (the
    reference only uses rowsBetween, W2) — late/multi-batch-safe because the
    frame is defined on event time, not row position. One extra (tiny)
    shuffle over the per-minute aggregate, never the raw events. The
    unpartitioned window serializes on one task — fine here because the
    input is the per-MINUTE rollup (≤525k rows/year); partition by a
    coarser grain (day) if the grain ever becomes sub-second."""
    per_min = events_per_minute(events)
    w = (
        Window.orderBy(F.unix_timestamp("minute"))
        .rangeBetween(-(window_minutes - 1) * 60, 0)
    )
    return per_min.select(
        "minute",
        "events_count",
        F.round(F.avg("events_count").over(w), 6).alias(f"ma_{window_minutes}m"),
    )


def item_interactions(events: DataFrame) -> DataFrame:
    """Analysis 9 (`stream_processor.py:337-354`). On a stream it is a
    running count over the whole stream: write it in update mode (each
    micro-batch emits the items it touched) or complete mode. No watermark:
    state is one long per item, bounded by item cardinality, not time."""
    return events.groupBy("itemid").agg(F.count("*").alias("interaction_count"))


def most_viewed_items(events: DataFrame, view_event: str = "view") -> DataFrame:
    """Analysis 10 (`stream_processor.py:360-379`): the filter precedes the
    aggregate so it pushes into the scan when reading from parquet (and, on
    a stream, non-view events never touch the state store). Streams like
    :func:`item_interactions`."""
    return (
        events.filter(F.col("event") == view_event)
        .groupBy("itemid")
        .agg(F.count("*").alias("view_count"))
    )


def user_paths(sessionized: DataFrame) -> DataFrame:
    """Analysis 2 (`stream_processor.py:145-175`): ordered event path per
    session — (visitorid, session_id, user_path), events ordered by
    (event_time, event), ties pinned by tests.

    Spelled as a WINDOW over (visitorid, session_id) ordered by
    (event_time, event) — ``collect_list`` with an unbounded frame emits
    the list ALREADY ORDERED, and ``row_number() = 1`` keeps one row per
    session. Two structural wins over the groupBy spelling
    (collect_list(struct) → array_sort → extract), both measured at the
    100× checkpoint:

    * ZERO new exchanges: sessionize's hash(visitorid) partitioning
      satisfies the (visitorid, session_id) clustering, so this window
      adds only a LOCAL sort — the groupBy spelling re-shuffled every
      event struct on the compound key;
    * ZERO interpreted lambdas: no array_sort (whose struct comparator
      desugars to an interpreted lambdafunction over every element) and
      no ``transform(x -> x.event)`` HOF. The transform spelling measured
      82–195 s at 100× (allocation churn, outside codegen); this plan
      runs the same rows in ~7 s, 0.38× of the DuckDB control.

    Two contracts this spelling leans on, both pinned by tests:

    * ``event`` is NON-NULL here — ``collect_list`` silently drops null
      elements, while the struct spelling (:func:`top_paths`) and the
      streaming twin (``streaming.sessions.stateful_user_paths``) would
      keep them as null path entries. The invariant comes from the wire
      format (the reference's records always carry an event string —
      `stream_processor.py:41-49` — and ``canonicalize`` passes ``event``
      through uncast), and ``test_event_non_null_invariant`` pins it on
      the fixture, so all three path spellings agree on real input. A
      null-bearing source would need ``coalesce(event, ...)`` BEFORE
      sessionize to keep them agreeing.
    * the ordered emission of ``collect_list`` over an unbounded window
      frame is WindowExec processing-order behavior (collect_list is
      documented non-deterministic in general); it is stable in practice
      and pinned by the tie tests, so a future Spark upgrade that broke
      it would be caught there, not here.
    """
    w = Window.partitionBy("visitorid", "session_id").orderBy(
        "event_time", "event"
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        sessionized.withColumn("user_path", F.collect_list("event").over(frame))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("visitorid", "session_id", "user_path")
    )


def step_flags(steps: list[str]) -> list[Column]:
    """One 0/1 aggregate per funnel step: did the group contain it."""
    return [F.max(F.when(F.col("event") == s, 1).otherwise(0)).alias(s) for s in steps]


def funnel_analysis(
    sessionized: DataFrame, funnel_steps: list[str] | None = None
) -> DataFrame:
    """Analysis 3 (`stream_processor.py:189-221`): count of sessions containing
    each funnel step. Membership, not ordering — a session with `transaction`
    but no `addtocart` still counts for `transaction` (non-monotonic funnel,
    documented reference behavior).

    Implementation detail: the reference collects every event into an array
    and probes with array_contains (`stream_processor.py:201-211`); we compute
    the same result with ``max(when(event==step,1))`` per group — identical
    semantics, but partial aggregation works (no per-session array state), so
    the shuffle carries K ints per session instead of the whole event list.
    """
    steps = DEFAULT_FUNNEL_STEPS if funnel_steps is None else funnel_steps
    session_flags = sessionized.groupBy("session_id", "visitorid").agg(
        *step_flags(steps)
    )
    return session_flags.agg(
        *[F.sum(F.col(step)).alias(step) for step in steps]
    )


def sequential_funnel(
    sessionized: DataFrame, funnel_steps: list[str] | None = None
) -> DataFrame:
    """STRICT-ORDER funnel (the engine extension the reference's
    membership funnel isn't): a session counts for step k only if step k
    occurred AFTER its completed step k−1 — exact sequential semantics via
    chained conditional mins, not the first-touch approximation (a click
    before the first view does not complete view→click, but a later click
    does).

    t₁ = min(time | event = step₁); tₖ = min(time | event = stepₖ ∧ time > tₖ₋₁).

    ONE exchange total: events are filtered to the K funnel steps and
    mapped to a step index map-side, collected per session as a
    time-sorted slim array, and a single ``F.aggregate`` fold fills each
    step's first qualifying time (sorted ⇒ first qualifying = min, and
    strict ``>`` on the fold condition reproduces the chained-min
    tie-breaking exactly). The old K-stage join formulation shuffled the
    session key K times; this shuffles it once, and the per-session array
    holds only funnel-step events, so its size is bounded by the
    session's funnel activity, not its length. Each stage count is then
    one global sum over `t_k IS NOT NULL` — monotonic by construction.
    Output: one row with ``<step>_sessions`` per step."""
    steps = DEFAULT_FUNNEL_STEPS if funnel_steps is None else funnel_steps
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps}")
    keys = ["session_id", "visitorid"]
    step_idx = F.lit(None).cast("int")
    for i in range(len(steps) - 1, -1, -1):
        step_idx = F.when(F.col("event") == steps[i], F.lit(i)).otherwise(step_idx)
    ev = (
        sessionized.filter(F.col("event").isin(steps))
        .select(
            *keys,
            F.struct(
                F.col("event_time").alias("t"), step_idx.alias("k")
            ).alias("__e"),
        )
    )
    n = len(steps)
    # Fold the sorted (t, k) array: slot k fills with the first element whose
    # step is k, slot k is still empty, and (k == 0 or t > slot k-1).
    fold = F.aggregate(
        F.array_sort(F.collect_list("__e")),
        F.array_repeat(F.lit(None).cast("timestamp"), n),
        lambda acc, e: F.transform(
            acc,
            lambda t, i: F.when(
                (i == e["k"])
                & t.isNull()
                & F.when(e["k"] == F.lit(0), F.lit(True)).otherwise(
                    # element_at is 1-based: index k reads 0-based slot k-1,
                    # guarded behind the when() so k=0 never evaluates it
                    F.coalesce(e["t"] > F.element_at(acc, e["k"]), F.lit(False))
                ),
                e["t"],
            ).otherwise(t),
        ),
    )
    per_session = ev.groupBy(*keys).agg(fold.alias("__ts"))
    return per_session.agg(
        *[
            F.count(F.element_at(F.col("__ts"), i + 1)).alias(f"{steps[i]}_sessions")
            for i in range(n)
        ]
    )


def item_cooccurrence(
    sessionized: DataFrame, k: int = 100, max_items_per_session: int = 50
) -> DataFrame:
    """Items co-viewed within a session ("customers also viewed"
    precompute): unordered item pairs (a < b) counted by the number of
    sessions containing both. Top-``k`` by session count (ties: pair asc).

    Skew guard: each session contributes at most ``max_items_per_session``
    DISTINCT items (lowest ids kept — deterministic), so a pathological
    mega-session generates ≤ C(cap, 2) pairs instead of millions; the
    explode is array-local (slice of a sorted distinct array), the only
    shuffle is the (a, b)-keyed count with map-side combine."""
    per_session = (
        sessionized.filter(F.col("itemid").isNotNull())
        .groupBy("session_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("itemid")), 1, max_items_per_session
            ).alias("__items")
        )
        .filter(F.size("__items") >= 2)
    )
    pairs = per_session.select(
        F.explode(
            F.expr(
                "flatten(transform(__items, (x, i) -> "
                "transform(slice(__items, i + 2, size(__items)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("__p")
    ).select(F.col("__p.a").alias("item_a"), F.col("__p.b").alias("item_b"))
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("item_a"), F.asc("item_b"))
        .limit(k)
    )


def item_lift(
    sessionized: DataFrame,
    k: int = 100,
    max_items_per_session: int = 50,
    min_both: int = 2,
) -> DataFrame:
    """Association-rule lift for item pairs: how much more often a and b
    co-occur in a session than independence predicts —
    ``lift = P(a∧b) / (P(a)·P(b)) = n_both·N / (n_a·n_b)`` over the
    session universe N. Raw co-occurrence (``item_cooccurrence``) rewards
    popular items; lift surfaces genuinely ASSOCIATED ones.

    All probabilities derive from the SAME capped per-session distinct
    item lists (lowest ``max_items_per_session`` ids — the mega-session
    skew guard), so the ratio is internally consistent. Supports are an
    item-keyed aggregate joined onto the pair counts twice under
    different roles — catalog-grain, so NO forced broadcast (AQE
    broadcasts when the catalog is actually small); N is a 1-row
    broadcast. Pairs below ``min_both``
    sessions are dropped (lift on a 1-session pair is noise). Output:
    (item_a, item_b, n_both, lift), top-``k`` by n_both with the
    deterministic (n DESC, a, b) order; lift rounded to 6 decimals."""
    per_session = (
        sessionized.filter(F.col("itemid").isNotNull())
        .groupBy("session_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("itemid")), 1, max_items_per_session
            ).alias("__items")
        )
    )
    total = per_session.agg(F.count("*").alias("__N"))
    supports = per_session.select(
        "session_id", F.explode("__items").alias("itemid")
    ).groupBy("itemid").agg(F.count("*").alias("__sup"))
    pairs = (
        per_session.filter(F.size("__items") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__items, (x, i) -> "
                    "transform(slice(__items, i + 2, size(__items)), y -> struct(x AS a, y AS b))))"
                )
            ).alias("__p")
        )
        .select(F.col("__p.a").alias("item_a"), F.col("__p.b").alias("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= min_both)
    )
    sup_a = supports.select(F.col("itemid").alias("__ia"), F.col("__sup").alias("__na"))
    sup_b = supports.select(F.col("itemid").alias("__ib"), F.col("__sup").alias("__nb"))
    return (
        pairs.join(sup_a, F.col("item_a") == F.col("__ia"))
        .join(sup_b, F.col("item_b") == F.col("__ib"))
        .crossJoin(F.broadcast(total))
        .select(
            "item_a",
            "item_b",
            "n_both",
            F.round(
                (F.col("n_both").cast("double") * F.col("__N").cast("double"))
                / (F.col("__na").cast("double") * F.col("__nb").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_both"), F.asc("item_a"), F.asc("item_b"))
        .limit(k)
    )


def session_entry_exit(sessionized: DataFrame) -> DataFrame:
    """Entry/exit distribution: how many sessions START and how many END
    on each item (landing/abandonment analysis) — (itemid, entries,
    exits). Events without an item are transparent: the entry item is the
    FIRST item-bearing event of the session, the exit the last.

    min_by/max_by keyed on (event_time, event_id) ride ONE session-keyed
    aggregation with map-side combine (no window over raw events), then
    one small item-keyed count."""
    keyed = sessionized.filter(F.col("itemid").isNotNull()).select(
        "session_id",
        "itemid",
        F.struct("event_time", "event_id").alias("__ord"),
    )
    firsts = keyed.groupBy("session_id").agg(
        F.min_by("itemid", F.col("__ord")).alias("entry_item"),
        F.max_by("itemid", F.col("__ord")).alias("exit_item"),
    )
    entries = firsts.groupBy(F.col("entry_item").alias("itemid")).agg(
        F.count("*").alias("entries")
    )
    exits = firsts.groupBy(F.col("exit_item").alias("itemid")).agg(
        F.count("*").alias("exits")
    )
    return (
        entries.join(exits, "itemid", "full_outer")
        .na.fill(0, ["entries", "exits"])
    )


def top_paths(sessionized: DataFrame, k: int = 20) -> DataFrame:
    """Most common exact session paths: the ordered event sequence per
    session — the collect_list(struct)→array_sort spelling that
    :func:`user_paths` used before its window rewrite (this is now the
    canonical struct-sort; same (event_time, event) total order) —
    joined to '>' strings and counted — (path, n_sessions), top-``k``
    with a deterministic (count DESC, path ASC) order. The shuffle
    carries one path string per session; TakeOrderedAndProject caps the
    result."""
    paths = (
        sessionized.withColumn(
            "__e", F.struct(F.col("event_time"), F.col("event"))
        )
        .groupBy("session_id")
        .agg(
            # GetArrayStructFields (codegen), not a transform lambda — see
            # user_paths' docstring for the measured 100× gap
            F.concat_ws(
                ">",
                F.array_sort(F.collect_list("__e")).getField("event"),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(k)
    )


def retention_cohorts(events: DataFrame, grain: str = "week") -> DataFrame:
    """Cohort retention: visitors grouped by first-seen period, counted
    in each later period they return — (cohort, period_offset,
    active_visitors, cohort_size, retention_rate). Offset 0 row = the
    cohort itself (rate 1.0).

    Two aggregations at visitor grain: first-seen per visitor (one
    shuffle, map-side combined), then distinct (visitor, period) activity
    joined to its cohort — the join is keyed on visitorid, the SAME
    partitioning the first aggregation produced, so AQE plans it without
    a second full exchange of the big side. Never shuffles raw events
    twice."""
    period = F.date_trunc(grain, F.col("event_time")).cast("date")
    activity = events.select("visitorid", period.alias("period")).distinct()
    cohorts = activity.groupBy("visitorid").agg(F.min("period").alias("cohort"))
    sizes = cohorts.groupBy("cohort").agg(F.count("*").alias("cohort_size"))
    step = {"week": 7, "day": 1}.get(grain)
    if step is None:
        raise ValueError(f"unsupported grain: {grain!r} (use 'week' or 'day')")
    joined = activity.join(cohorts, "visitorid").select(
        "cohort",
        (F.datediff(F.col("period"), F.col("cohort")) / step).cast("long").alias(
            "period_offset"
        ),
        "visitorid",
    )
    return (
        joined.groupBy("cohort", "period_offset")
        .agg(F.count_distinct("visitorid").alias("active_visitors"))
        .join(F.broadcast(sizes), "cohort")
        .withColumn(
            "retention_rate",
            F.round(F.col("active_visitors") / F.col("cohort_size"), 6),
        )
    )


def item_dwell_time(events: DataFrame) -> DataFrame:
    """Per-item dwell proxy: seconds from an item event to the visitor's
    NEXT event (any item), averaged per item — (itemid, n_dwells,
    avg_dwell_seconds). Last event of a visitor has no next event and is
    excluded (standard open-interval convention).

    One lead() window on the same visitorid exchange sessionization uses,
    then one item-keyed aggregation; integer second gaps, DECIMAL-summed
    average."""
    w = Window.partitionBy("visitorid").orderBy(F.asc("event_time"), F.asc("event_id"))
    gaps = (
        events.select("visitorid", "event_time", "event_id", "itemid")
        .withColumn("__next", F.lead("event_time").over(w))
        .filter(F.col("__next").isNotNull() & F.col("itemid").isNotNull())
        .withColumn(
            "__dwell",
            F.unix_timestamp("__next") - F.unix_timestamp("event_time"),
        )
    )
    return gaps.groupBy("itemid").agg(
        F.count("*").alias("n_dwells"),
        F.round(
            F.avg(F.col("__dwell").cast("decimal(18,6)")).cast("double"), 6
        ).alias("avg_dwell_seconds"),
    )


def latest_event_state(
    events: DataFrame,
    keys: tuple[str, ...] = ("visitorid", "itemid"),
    ts_col: str = "event_time",
    tiebreak: str = "event_id",
) -> DataFrame:
    """CDC/SCD-1 compaction: the LATEST event per key — the
    merge-into-current-state pass every incremental pipeline runs (dedup
    keep-latest, as opposed to a keep-first dedup's keep-lowest-id).

    Deterministic under timestamp ties via the ``tiebreak`` column
    (highest wins). One shuffle on the key with a partial ``max(struct)``
    aggregation — the struct comparison is lexicographic on
    (ts, tiebreak, payload...), so map-side combine reduces each partition
    to one candidate per key BEFORE the exchange; a window/row_number form
    would shuffle every row."""
    payload = [c for c in events.columns if c not in keys]
    ordered = [ts_col, tiebreak] + [
        c for c in payload if c not in (ts_col, tiebreak)
    ]
    # max_by, not max(struct(everything)): the ordering key is ONLY
    # (ts, tiebreak), so payload columns need not be orderable (a map
    # column would make max(struct) unresolvable) and never silently
    # participate in tie-breaking
    return (
        events.groupBy(*keys)
        .agg(
            F.max_by(
                F.struct(*ordered), F.struct(F.col(ts_col), F.col(tiebreak))
            ).alias("__latest")
        )
        .select(
            *keys,
            *[F.col(f"__latest.{c}").alias(c) for c in ordered],
        )
    )


def _quantile_aggs(
    col: str,
    quantiles: tuple[float, ...],
    exact: bool,
    accuracy: int,
    rounded: bool = False,
) -> list:
    """Shared percentile aggregation exprs: exact ``percentile`` (the
    oracle-checkable form) or mergeable ``approx_percentile`` (bounded
    state, the billions-of-rows default). Column names round the quantile
    (``int(round(q*100))`` — plain ``int()`` truncates 0.29 to p28)."""
    out = []
    for q in quantiles:
        name = f"p{int(round(q * 100))}"
        if exact:
            expr = F.expr(f"percentile({col}, {q})")
        else:
            expr = F.expr(f"approx_percentile({col}, {q}, {accuracy})").cast("double")
        out.append((F.round(expr, 6) if rounded else expr).alias(name))
    return out


def value_quantiles_by_event(
    events: DataFrame,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-event-type value distribution: count + interpolated percentiles
    + mean. Same exact/approx split as :func:`session_length_quantiles`.
    Results rounded to 6 decimals so both engines agree on the
    interpolation; the mean sums in DECIMAL (order-independent) before the
    final double cast. One shuffle on the (tiny) event key."""
    return events.groupBy("event").agg(
        F.count("*").alias("n_events"),
        *_quantile_aggs("value", quantiles, exact, accuracy, rounded=True),
        F.round(
            F.avg(F.col("value").cast("decimal(18,6)")).cast("double"), 6
        ).alias("avg_value"),
    )


def minute_anomalies(events: DataFrame, z_cut: float = 2.0) -> DataFrame:
    """Traffic-anomaly flags: per-minute event counts z-scored against
    their DAY's mean/stddev, |z| > ``z_cut`` flagged — the monitoring
    query a clickstream pipeline runs over its own throughput (bot
    bursts, outages, campaign spikes).

    Variance is computed from EXACT integer statistics — n, Σx, Σx² of
    the integer minute counts accumulate as exact BIGINT/DECIMAL sums, so
    mean and sample variance derive from the same exact values in any
    engine and any partition order (a streaming double variance like
    stddev_samp is summation-order-dependent — unacceptable for a gate
    that feeds a boolean flag). The z arithmetic is then fixed-shape
    double ops on those exact stats, rounded to 6 decimals.

    Scale shape: minute grain collapses ~anything to ≤ 525,600 rows/year
    before the day-stat join, the day stats are a second tiny aggregate
    broadcast back onto the minutes, and the whole plan shares the first
    (minute) shuffle. Days with < 2 minutes or zero variance emit NULL z
    and an unflagged row."""
    per_min = (
        with_minute(events)
        .groupBy("minute")
        .agg(F.count("*").alias("events_count"))
        .withColumn("day", F.date_trunc("day", F.col("minute")))
    )
    day_stats = per_min.groupBy(F.col("day").alias("__day")).agg(
        F.count("*").alias("__n"),
        F.sum("events_count").alias("__s"),
        F.sum(F.col("events_count") * F.col("events_count")).alias("__ss"),
    )
    joined = per_min.join(
        F.broadcast(day_stats), F.col("day") == F.col("__day")
    )
    n = F.col("__n").cast("double")
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    x = F.col("events_count").cast("double")
    var = (ss - (s * s) / n) / (n - F.lit(1.0))
    sd = F.sqrt(var)
    # positivity guarded on the EXACT integer statistic n*ss - s*s (in
    # DECIMAL so it can't overflow or cancel): when double cancellation
    # drives the computed var slightly negative, sd is NaN — and Spark
    # orders NaN GREATER than every number, so `sd > 0` would pass and
    # flag the whole day anomalous
    exact_pos = (
        F.col("__n").cast("decimal(38,0)") * F.col("__ss").cast("decimal(38,0)")
        - F.col("__s").cast("decimal(38,0)") * F.col("__s").cast("decimal(38,0)")
    ) > 0
    z = F.when(
        (F.col("__n") >= 2) & exact_pos, F.round((x - s / n) / sd, 6)
    )
    return joined.select(
        "minute",
        "events_count",
        z.alias("zscore"),
        (F.abs(z) > F.lit(z_cut)).alias("is_anomaly"),
    )


def item_trend(events: DataFrame, epoch_day: str = "1995-01-01") -> DataFrame:
    """Per-item interaction trend: the OLS slope of daily event counts over
    the day index (events/day²) — rising vs fading items, the feature
    behind trending-now modules and inventory forecasts.

    The slope derives from EXACT integer sums — x is an integer day index
    (datediff from a fixed epoch), y an integer daily count, so n, Σx, Σy,
    Σxy, Σx² all accumulate exactly and the closed-form
    ``(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)`` is evaluated in double from the
    same exact stats in any engine/partition order (built-in regr_slope
    is a double accumulation — order-dependent, so not used). Items seen
    on < 2 distinct days emit NULL slope.

    Scale shape: the fact collapses to (item, day) grain in the first
    map-side-combinable aggregate, then one item-keyed rollup; nothing
    wider than five integers per item crosses the second shuffle."""
    daily = (
        events.filter(F.col("itemid").isNotNull())
        .groupBy(
            "itemid",
            F.datediff(
                F.date_trunc("day", F.col("event_time")), F.lit(epoch_day).cast("date")
            ).alias("__x"),
        )
        .agg(F.count("*").alias("__y"))
    )
    stats = daily.groupBy("itemid").agg(
        F.count("*").alias("n_days"),
        F.sum("__y").alias("total_events"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    n = F.col("n_days").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("total_events").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    denom = n * sxx - sx * sx
    return stats.select(
        "itemid",
        "n_days",
        "total_events",
        F.when(
            (F.col("n_days") >= 2) & (denom != 0),
            F.round((n * sxy - sx * sy) / denom, 6),
        ).alias("slope"),
    )


def timed_funnel(
    events: DataFrame,
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
    window1_s: int = 1800,
    window2_s: int = 86400,
) -> DataFrame:
    """Funnel with PER-STEP completion windows: step 2 must follow the
    user's first step-1 event within ``window1_s`` seconds, step 3 the
    qualifying step-2 within ``window2_s`` — the product question "does a
    view convert within 30 minutes / a day", which the plain membership
    funnel (A3/A4) and even the strict sequential funnel can't answer.

    Three per-visitor conditional-min aggregation passes, each joined to
    the previous stage's anchor time: every pass is one visitorid-keyed
    aggregate on the pre-filtered step's events (same key each time, so
    AQE/exchange reuse keeps them co-partitioned), and each stage frame
    is user-grain — tiny against the fact. No arrays, no per-user event
    collection, so a bot with 10^6 events costs the same as any user in
    the join stages. Output: one row (users_step1, users_step2,
    users_step3)."""
    ev = events.select("visitorid", "event", "event_time")
    s1 = (
        ev.filter(F.col("event") == steps[0])
        .groupBy("visitorid")
        .agg(F.min("event_time").alias("__t1"))
    )
    s2 = (
        ev.filter(F.col("event") == steps[1])
        .join(s1, "visitorid")
        .filter(
            (F.col("event_time") > F.col("__t1"))
            & (
                F.col("event_time")
                <= F.col("__t1") + F.make_dt_interval(secs=F.lit(window1_s))
            )
        )
        .groupBy("visitorid")
        .agg(F.min("event_time").alias("__t2"))
    )
    s3 = (
        ev.filter(F.col("event") == steps[2])
        .join(s2, "visitorid")
        .filter(
            (F.col("event_time") > F.col("__t2"))
            & (
                F.col("event_time")
                <= F.col("__t2") + F.make_dt_interval(secs=F.lit(window2_s))
            )
        )
        .groupBy("visitorid")
        .agg(F.min("event_time").alias("__t3"))
    )
    return (
        s1.agg(F.count("*").alias("users_step1"))
        .crossJoin(F.broadcast(s2.agg(F.count("*").alias("users_step2"))))
        .crossJoin(F.broadcast(s3.agg(F.count("*").alias("users_step3"))))
    )


def concurrent_sessions(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Concurrent-session load curve: how many sessions were active during
    each minute — the capacity/occupancy view (Little's law inputs) that
    per-minute EVENT counts can't give, since an idle-but-open session
    generates no events.

    Sessionizes, then explodes each session's [start, end] minute range
    and counts per minute. The explode factor is the session's length in
    minutes — bounded in practice by the session gap semantics (a session
    idles out after ``gap_s``), so a year-long log cannot produce
    unbounded rows per session; the output collapses to ≤ minutes-in-
    corpus rows. Output: (minute, active_sessions)."""
    sess = session_metrics(sessionize(events, gap_seconds=gap_s))
    minutes = sess.select(
        F.explode(
            F.sequence(
                F.date_trunc("minute", F.col("session_start")),
                F.date_trunc("minute", F.col("session_end")),
                F.expr("interval 1 minute"),
            )
        ).alias("minute")
    )
    return minutes.groupBy("minute").agg(F.count("*").alias("active_sessions"))


def bot_flags(
    events: DataFrame,
    max_rate_per_min: int = 10,
    min_events: int = 20,
) -> DataFrame:
    """Bot/abuse heuristic per visitor: total events, span, busiest-minute
    rate, and a flag when the busiest minute exceeds ``max_rate_per_min``
    AND total volume reaches ``min_events`` — the cheap first-pass filter
    a clickstream pipeline applies before sessionization (bots also skew
    every downstream per-user aggregate).

    Two stacked aggregations on the SAME visitorid key (minute grain
    first, then user grain) — the second groupBy reuses the first's
    partitioning, so the fact shuffles once. All exact integer stats.
    Output: (visitorid, total_events, active_minutes, peak_per_minute,
    is_bot)."""
    per_min = events.groupBy(
        "visitorid", F.date_trunc("minute", F.col("event_time")).alias("__m")
    ).agg(F.count("*").alias("__c"))
    per_user = per_min.groupBy("visitorid").agg(
        F.sum("__c").alias("total_events"),
        F.count("*").alias("active_minutes"),
        F.max("__c").alias("peak_per_minute"),
    )
    return per_user.select(
        "visitorid",
        "total_events",
        "active_minutes",
        "peak_per_minute",
        (
            (F.col("peak_per_minute") > max_rate_per_min)
            & (F.col("total_events") >= min_events)
        ).alias("is_bot"),
    )


def _attribution_pairs(
    events: DataFrame,
    horizon_s: int,
    convert_event: str,
    touch_event: str,
) -> DataFrame:
    """The bounded (conversion, touch) range join all four credit models
    share (:func:`linear_attribution` / :func:`decay_attribution` /
    :func:`first_touch_attribution` / :func:`position_attribution`),
    spelled so the EQUI-KEY carries most of the selectivity (VERDICT r13
    #1): both sides are stamped with the horizon bucket
    ``unix_micros(event_time) div (horizon_s * 1e6)`` and the join key is
    ``(visitorid, bucket)`` instead of bare ``visitorid``. Bucket width ==
    horizon exactly, so a touch with ``ct - horizon <= tt < ct`` lies in
    the conversion's own bucket or the one before — the (small) conversion
    side is exploded to those two buckets and the exact time-range
    predicate then filters the per-(visitor, bucket) cross product rather
    than the visitor's WHOLE history. At the 100x fixture (30-day span,
    1-day horizon, ~67 events/visitor) that cuts the post-join filter's
    input ~15x; it also splits any hot visitor's SMJ key across the span's
    buckets, which bounds range-join skew by construction. Each matching
    pair appears exactly once (the touch's bucket equals exactly one of
    the two exploded values). Epochs are assumed non-negative (``div``
    truncates toward zero; every clickstream timestamp is post-1970).

    Output grain: one row per in-horizon (conversion, touch) pair —
    (__cv, __ct, __cid, __tt, __tid, itemid)."""
    if horizon_s != int(horizon_s) or int(horizon_s) <= 0:
        # the bucket math divides by horizon_us: under non-ANSI Spark a
        # zero divisor yields NULL buckets — zero pairs SILENTLY — and a
        # negative one breaks the two-bucket coverage proof (ADVICE r14).
        # Fractional horizons are rejected too: the bucket key would
        # truncate to int while the range predicate kept the fraction, so
        # a touch in the truncated-off tail would fall outside the
        # {b, b-1} explode and its pair would be silently dropped — the
        # same loss class the guard exists to make loud.
        raise ValueError(
            f"attribution horizon must be a positive whole number of "
            f"seconds, got {horizon_s!r}"
        )
    horizon_us = int(horizon_s) * 1_000_000
    conv = events.filter(F.col("event") == convert_event).select(
        F.col("visitorid").alias("__cv"),
        F.col("event_time").alias("__ct"),
        F.col("event_id").alias("__cid"),
        F.explode(
            F.array(
                F.expr(f"unix_micros(event_time) div {horizon_us}"),
                F.expr(f"unix_micros(event_time) div {horizon_us} - 1"),
            )
        ).alias("__cb"),
    )
    touch = events.filter(
        (F.col("event") == touch_event) & F.col("itemid").isNotNull()
    ).select(
        F.col("visitorid").alias("__tv"),
        F.col("event_time").alias("__tt"),
        F.col("event_id").alias("__tid"),
        F.col("itemid"),
        F.expr(f"unix_micros(event_time) div {horizon_us}").alias("__tb"),
    )
    return conv.join(
        touch,
        (F.col("__cv") == F.col("__tv"))
        & (F.col("__cb") == F.col("__tb"))
        & (F.col("__tt") < F.col("__ct"))
        & (
            F.col("__tt")
            >= F.col("__ct") - F.make_dt_interval(secs=F.lit(horizon_s))
        ),
    ).select("__cv", "__ct", "__cid", "__tt", "__tid", "itemid")


def linear_attribution(
    events: DataFrame,
    horizon_s: int = 86400,
    convert_event: str = "purchase",
    touch_event: str = "view",
) -> DataFrame:
    """Linear multi-touch attribution: each conversion's credit splits
    EQUALLY across every touch (view) by the same visitor within
    ``horizon_s`` seconds before it; per-item credits sum over all
    conversions. First/last-touch models over-reward bookends; linear is
    the standard neutral baseline.

    One (visitorid, horizon-bucket)-keyed shuffle join of the (small)
    conversion side against the touch side with the exact time-range
    predicate evaluated inside the join (:func:`_attribution_pairs` — the
    bucketed spelling all four credit models share), then a
    conversion-keyed count to find each conversion's
    touch fan-out, then an item-keyed credit sum. Each 1/n share is
    rounded to 12 decimals and accumulated as EXACT DECIMAL — a double
    credit sum would be partition-order-dependent. Per-visitor skew is the usual bot problem: run
    :func:`bot_flags` upstream; the horizon bounds the per-pair match
    window AND the join bucket width. Output: (itemid,
    conversions_touched, credit), credit rounded to 6 decimals."""
    pairs = _attribution_pairs(events, horizon_s, convert_event, touch_event)
    # fan-out as a count(*)-over-conversion window: ONE exchange on __cid
    # replaces the old {checkpoint barrier + groupBy + self-join} spelling
    # (r13 shave, see position_attribution) — and with a single consumer
    # chain the range join runs once, so nothing is materialized either
    credited = pairs.withColumn(
        "__n", F.count("*").over(Window.partitionBy("__cid"))
    )
    return (
        credited.groupBy("itemid")
        .agg(
            F.count_distinct("__cid").alias("conversions_touched"),
            F.round(
                F.sum(
                    F.round(F.lit(1.0) / F.col("__n"), 12).cast("decimal(18,12)")
                ).cast("double"),
                6,
            ).alias("credit"),
        )
    )


def hourly_seasonality(events: DataFrame) -> DataFrame:
    """Traffic seasonality profile: event share per (day-of-week, hour)
    cell — the 168-row heatmap behind capacity planning and send-time
    optimization. Exact integer counts; the share divides by a broadcast
    scalar total so the column sums to 1. dow is ISO (1 = Monday).
    Output: (dow, hour, events_count, share)."""
    cells = events.groupBy(
        F.dayofweek(F.col("event_time")).alias("__dow_sun1"),
        F.hour(F.col("event_time")).alias("hour"),
    ).agg(F.count("*").alias("events_count"))
    # Spark dayofweek: 1=Sunday; normalize to ISO 1=Monday..7=Sunday
    cells = cells.select(
        ((F.col("__dow_sun1") + 5) % 7 + 1).alias("dow"),
        "hour",
        "events_count",
    )
    total = cells.agg(F.sum("events_count").alias("__tot"))
    return cells.crossJoin(F.broadcast(total)).select(
        "dow",
        "hour",
        "events_count",
        F.round(
            F.col("events_count").cast("double") / F.col("__tot").cast("double"), 6
        ).alias("share"),
    )


#: decay rate literal shared with the oracle SQL: computed ONCE in Python
#: and inlined as the same 17-significant-digit literal on both engines
#: (ln(2) evaluated separately per engine could differ in the last ulp)
DECAY_LAMBDA_PER_S = 0.00019254052769448875  # ln(2) / 3600


def trending_items(events: DataFrame, lam_per_s: float = DECAY_LAMBDA_PER_S) -> DataFrame:
    """Decayed heavy hitters in closed form: each event contributes
    ``exp(-λ·(t_last − t_i))`` of mass as of the item's LAST event, so

        decayed_count(item) = Σᵢ exp(-λ·(t_last − tᵢ))

    — the value an incremental fold ``d·e^{-λΔ} + 1`` converges to.
    Pinned against that sum computed in plain Python by
    ``test_trending_items_matches_python_decay_sum``.

    One itemid exchange shared by the last-event window and the
    aggregation; time deltas computed on exact integer microseconds.
    Output: (itemid, last_event_time, decayed_count, raw_events)."""
    w = Window.partitionBy("itemid")
    scored = (
        events.filter(F.col("itemid").isNotNull())
        .withColumn("__last", F.max("event_time").over(w))
        .withColumn(
            "__mass",
            F.exp(
                -F.lit(lam_per_s)
                * (
                    (F.unix_micros(F.col("__last")) - F.unix_micros(F.col("event_time")))
                    / F.lit(1000000.0)
                )
            ),
        )
    )
    return scored.groupBy("itemid").agg(
        F.max("__last").alias("last_event_time"),
        F.round(F.sum("__mass"), 6).alias("decayed_count"),
        F.count("*").alias("raw_events"),
    )


def conversion_latency_histogram(
    events: DataFrame,
    convert_event: str = "purchase",
    touch_event: str = "view",
    bin_s: int = 60,
) -> DataFrame:
    """Distribution of view→purchase latency: for each conversion, the
    time since the SAME visitor's most recent prior view, binned to
    ``bin_s``-second buckets — the "how long does intent take to convert"
    curve that sets attribution horizons and retargeting delays.

    ONE pass: a running ``last(view time) ignorenulls`` carried over each
    visitor's time-ordered events (the as-of-join pattern without a
    join), then a filter to conversions and a bin-keyed count. The window
    partitions by visitorid — no global sort; conversions with no prior
    view fall into bin −1 (explicitly surfaced, not dropped). Output:
    (latency_bin, n_conversions) where latency_bin = floor(Δs / bin_s)."""
    w = (
        Window.partitionBy("visitorid")
        .orderBy("event_time", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    carried = events.withColumn(
        "__last_touch",
        F.last(
            F.when(F.col("event") == touch_event, F.col("event_time")),
            ignorenulls=True,
        ).over(w),
    )
    conv = carried.filter(F.col("event") == convert_event).select(
        F.when(
            F.col("__last_touch").isNull(), F.lit(-1).cast("long")
        )
        .otherwise(
            F.floor(
                (
                    (
                        F.unix_micros(F.col("event_time"))
                        - F.unix_micros(F.col("__last_touch"))
                    )
                    / F.lit(1000000.0)
                )
                / F.lit(bin_s)
            )
        )
        .alias("latency_bin")
    )
    return conv.groupBy("latency_bin").agg(F.count("*").alias("n_conversions"))


def column_profile(events: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column data-quality profile: row count, null count, and exact
    distinct count for each requested column — the drift-detection
    primitive (profile today's batch, diff against yesterday's profile
    row-by-row; a jump in null rate or distinct cardinality is the
    classic upstream-schema-change symptom).

    One aggregation computes every column's stats in a single scan
    (2 + |cols| expressions, all map-side combinable except the distincts,
    which Spark plans as one Expand — still a single exchange), then a
    ``stack`` unpivot to the (column, metric) grain. Output:
    (column, n_rows, n_nulls, n_distinct)."""
    cols = columns if columns is not None else ["visitorid", "event", "itemid", "value"]
    aggs = [F.count("*").alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__null_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__dist_{c}"))
    one = events.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __null_{c}, __dist_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) as (column, n_nulls, n_distinct)",
        "__n as n_rows",
    ).select("column", "n_rows", "n_nulls", "n_distinct")


def events_per_minute_dense(events: DataFrame) -> DataFrame:
    """Zero-filled per-minute series: every minute between the corpus's
    first and last event appears, with 0 for empty minutes — the
    densification step charting/forecasting needs (a sparse series makes
    a moving average silently skip gaps).

    The minute spine generates from a 1-row (min, max) aggregate — a
    single sequence explode, NOT a per-row range join — left-joined by
    the sparse counts. Spine size is minutes-in-range (bounded:
    ~526k/year), independent of event volume. Output: (minute,
    events_count)."""
    sparse = (
        with_minute(events)
        .groupBy("minute")
        .agg(F.count("*").alias("__c"))
    )
    spine = (
        events.agg(
            F.date_trunc("minute", F.min("event_time")).alias("__lo"),
            F.date_trunc("minute", F.max("event_time")).alias("__hi"),
        )
        .select(
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.expr("interval 1 minute"))
            ).alias("minute")
        )
    )
    return spine.join(sparse, "minute", "left").select(
        "minute", F.coalesce("__c", F.lit(0)).alias("events_count")
    )


def events_cube(events: DataFrame) -> DataFrame:
    """CUBE coverage (the grouping-sets sibling of :func:`pricing_rollup`'s
    ROLLUP): counts + exact DECIMAL value sums for every subset of
    (event, day) — per-cell, per-event, per-day, and grand total in ONE
    shuffle (Catalyst expands grouping sets map-side).

    ``gid`` is the grouping bitmask (``grouping_id()``; event = MSB, day =
    LSB) so subtotal-marker NULLs are distinguishable from genuine NULL
    event/day values — a corpus with NULL events would otherwise silently
    merge data rows into subtotal rows."""
    return (
        events.withColumn("day", F.to_date("event_time"))
        .cube("event", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


def value_histogram(events: DataFrame, bin_width: float = 10.0) -> DataFrame:
    """Fixed-width histogram of the value column: bin = floor(value/width)
    (NULL — and, for floating columns, NaN — values excluded; Spark casts
    floor(NaN) to 0L, which would silently land NaN rows in bin 0 where
    an oracle engine errors or diverges). Scan-local binning + one
    aggregation — the profile pass that sizes everything else."""
    keep = F.col("value").isNotNull()
    if dict(events.dtypes).get("value") in ("double", "float"):
        keep = keep & ~F.isnan(F.col("value"))
    return (
        events.filter(keep)
        .groupBy(
            F.floor(F.col("value") / F.lit(bin_width)).cast("long").alias("bin")
        )
        .agg(F.count("*").alias("n_events"))
        .withColumn("bin_start", F.round(F.col("bin") * F.lit(bin_width), 6))
    )


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Trailing-``window_days`` distinct visitors per day (the DAU/WAU
    rolling-retention metric). A sliding count-distinct cannot merge across
    window positions, so the scalable form is: dedup to (day, visitor)
    grain FIRST (one shuffle, map-side combine collapses each visitor-day
    to one row), then fan each visitor-day out to the ≤``window_days``
    target days it contributes to, and count distinct per target day.
    Shuffle volume is bounded by distinct visitor-days × window, never raw
    events. Only days present in the data are reported."""
    assert window_days >= 1, "window_days must be >= 1"
    daily = (
        events.select(F.to_date("event_time").alias("day"), "visitorid").distinct()
    )
    days = daily.select("day").distinct()
    exploded = daily.select(
        "visitorid",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(window_days) - 1))
        ).alias("__off"),
        F.col("day"),
    ).select("visitorid", F.date_add(F.col("day"), F.col("__off")).alias("target_day"))
    return (
        exploded.join(days.withColumnRenamed("day", "target_day"), "target_day", "left_semi")
        .groupBy("target_day")
        .agg(F.count_distinct("visitorid").alias("active_users"))
        .withColumnRenamed("target_day", "day")
    )


def session_length_quantiles(
    session_metrics_df: DataFrame,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Distribution of session lengths: interpolated percentiles + mean
    events. ``exact=True`` uses `percentile` — a full collection of one
    numeric column into the final aggregation, fine at session grain for
    moderate corpora and the oracle-checkable form. ``exact=False`` uses
    `approx_percentile` (mergeable sketch, map-side partial, bounded state)
    — the default to reach for when sessions number in the billions."""
    return session_metrics_df.agg(
        F.count("*").alias("n_sessions"),
        *_quantile_aggs("session_length", quantiles, exact, accuracy),
        F.round(F.avg("events_in_session"), 6).alias("avg_events"),
    )


def key_skew_profile(df: DataFrame, key: str, k: int = 10) -> DataFrame:
    """Top-``k`` hottest values of ``key`` with their share of all rows —
    the diagnostic behind every skew decision (salt factor, broadcast
    threshold, AQE skew-join expectations). One keyed aggregation plus a
    single-row total broadcast; rows never shuffle twice.

    Output: (key, n_rows, share) ordered hottest-first, deterministic
    tiebreak on the key value."""
    counts = df.groupBy(key).agg(F.count("*").alias("n_rows"))
    total = df.agg(F.count("*").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            key,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
        )
        .orderBy(F.desc("n_rows"), F.asc(key))
        .limit(k)
    )


def audience_overlap(events: DataFrame) -> DataFrame:
    """Pairwise audience intersection between event types: for every
    unordered pair (event_a < event_b), the exact number of distinct
    visitors who did BOTH, each side's distinct-visitor count, and the
    Jaccard overlap — the set-intersection analysis behind segment
    overlap / cross-feature adoption dashboards.

    Scale shape: the naive spelling is a distinct + self-JOIN on visitor
    (two fact-sized shuffles and a potentially skewed join). Here the fact
    shuffles ONCE, keyed by visitor, into a ``bit_or`` membership bitmask
    (map-side partial dedup; the set is bounded by the event-type
    cardinality, which is small by definition for this analysis). Both
    outputs then derive from that one pass: per-type distinct counts by
    exploding the per-user sets (each (user, type) appears exactly once),
    and pair counts by exploding each user's set's unordered pairs —
    ≤ |types|²/2 rows per user. The per-type totals join back as
    broadcasts. The oracle keeps the DISTINCT + self-join spelling to pin
    the equivalence.

    The pairwise core is :func:`pairwise_set_overlap` with elements =
    visitors and sets = event types."""
    return pairwise_set_overlap(
        events.select(F.col("visitorid").alias("element"), F.col("event").alias("set_id")),
    ).select(
        F.col("set_a").alias("event_a"),
        F.col("set_b").alias("event_b"),
        F.col("n_a").alias("users_a"),
        F.col("n_b").alias("users_b"),
        F.col("n_both").alias("users_both"),
        "jaccard",
    )


def pairwise_set_overlap(df: DataFrame, max_bitmask_sets: int = 63) -> DataFrame:
    """Unordered pairwise overlap of sets from an (element, set_id) frame:
    for each pair (set_a < set_b) with a non-empty intersection, both
    sides' distinct-element counts, the intersection size, and Jaccard.

    ONE pass over the big data: an element-keyed membership aggregate
    (map-side partial dedup; fine whenever the set-id cardinality is
    dashboard-small) explodes each element's unordered pairs WITH the
    self-pairs (x, x), so a single (a, b)-keyed count yields pair
    intersections AND per-set distinct totals in the same tiny aggregate
    (a = b rows). That count then flows through ONE LINEAR pipeline:
    each side's distinct total is recovered from its (x, x) self-pair
    row by two windows over the tiny aggregate (partition by set_a, then
    set_b) — no split, no join-back, no re-computation of the explode
    (an earlier fork-based version re-ran the full explode per
    consumer: the lambda-bearing subplan defeats ReusedExchange
    canonicalization). The element universe can be 100 TB-large —
    elements never self-join.

    The membership aggregate is a BITMASK when the set universe fits in
    ≤ ``max_bitmask_sets`` (≤ 63) values: set_id maps to a power-of-two
    long through a literal ``create_map`` (no join — plan-shape pinned),
    ``bit_or`` folds memberships into one 8-byte long per element inside
    whole-stage codegen, and the name array is reconstructed from the
    mask AFTER the exchange. ``collect_set`` — an ObjectHashAggregate
    that builds per-key string arrays and falls back to sort-based
    aggregation — measured 4× slower on the same exchange at 10× fixture
    scale; it remains the fallback for > ``max_bitmask_sets`` set
    universes, equality test-pinned. The set universe is the distinct
    non-NULL set_ids of ``df``'s non-NULL-element rows, found by a
    bounded driver collect before the plan is built.

    NULL elements are dropped up front to match SQL join semantics: the
    oracle spellings (and any DISTINCT + self-join equivalent) lose NULLs
    at the equality join, while Spark's groupBy would keep NULL as a real
    key and let one NULL appearing in 2+ sets inflate n_both and the
    per-set totals. NULL set_ids are ignored in both membership paths
    (``bit_or`` and ``collect_set`` both skip NULLs)."""
    base = df.filter(F.col("element").isNotNull())
    max_bitmask_sets = min(max_bitmask_sets, 63)  # signed-long bit budget
    # bounded driver collect: ≤ max_bitmask_sets + 1 rows
    names = sorted(
        r[0]
        for r in base.select("set_id")
        .filter(F.col("set_id").isNotNull())
        .distinct()
        .limit(max_bitmask_sets + 1)
        .collect()
    )
    if 0 < len(names) <= max_bitmask_sets:
        bit_of = F.create_map(
            *[c for j, n in enumerate(names) for c in (F.lit(n), F.lit(1 << j))]
        )
        names_arr = F.array(*[F.lit(n) for n in names])
        pows = F.array(*[F.lit(1 << j) for j in range(len(names))])
        m = F.col("__m")
        sets_df = (
            base.groupBy("element")
            .agg(F.bit_or(F.element_at(bit_of, F.col("set_id"))).alias("__m"))
            .filter(m.isNotNull())
            .select(
                F.filter(
                    names_arr,
                    lambda x, i: m.bitwiseAND(F.element_at(pows, i + 1)) != 0,
                ).alias("__s")
            )
        )
    else:
        sets_df = base.groupBy("element").agg(
            F.collect_set("set_id").alias("__s")
        )
    counts = (
        sets_df.select(F.explode("__s").alias("a"), F.col("__s"))
        .select("a", F.explode("__s").alias("b"))
        # b >= a keeps each unordered pair once and keeps the (x, x)
        # self-pairs that carry the per-set totals
        .filter(F.col("b") >= F.col("a"))
        .groupBy(F.col("a").alias("set_a"), F.col("b").alias("set_b"))
        .agg(F.count("*").alias("n_both"))
    )
    self_n = F.max(F.when(F.col("set_a") == F.col("set_b"), F.col("n_both")))
    with_totals = counts.withColumn(
        "n_a", self_n.over(Window.partitionBy("set_a"))
    ).withColumn("n_b", self_n.over(Window.partitionBy("set_b")))
    denom = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return with_totals.filter(F.col("set_a") != F.col("set_b")).select(
        "set_a",
        "set_b",
        "n_a",
        "n_b",
        "n_both",
        F.round(F.col("n_both") / denom, 6).alias("jaccard"),
    )


def zipf_slope(events: DataFrame, key: str = "itemid") -> DataFrame:
    """Power-law fit of the ``key`` popularity distribution: least-squares
    slope/intercept/R² of ln(count) on ln(rank) — the one-row Zipf
    diagnostic behind cache sizing, skew budgeting, and "is this corpus
    head-heavy" calls. ``rank`` is SQL ``rank()`` (ties share the minimum
    rank) over count descending.

    Scale shape: ranking items directly is a GLOBAL sort of |items| rows —
    a single-task window at 100 TB item cardinalities. The fit only needs
    weighted sums, so the frame is reduced to COUNT-VALUE GRAIN first:
    group the per-item counts by count value (heavy-tailed corpora have
    few distinct count values), compute each group's shared min-rank from
    a running sum over that tiny grain (the only window, ordered over
    |distinct counts| rows), and accumulate the regression sums with the
    group size as weight — algebraically identical to the per-item
    regression because tied items contribute identical (x, y) points.
    The oracle keeps the naive per-item ``rank()`` + ``regr_*`` spelling
    to pin that equivalence."""
    counts = (
        events.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count("*").alias("__c"))
    )
    grain = counts.groupBy("__c").agg(F.count("*").alias("__m"))
    w = Window.orderBy(F.desc("__c")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = grain.select(
        "__c",
        "__m",
        (F.coalesce(F.sum("__m").over(w), F.lit(0)) + 1).alias("__r"),
    )
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("__c").cast("double"))
    m = F.col("__m").cast("double")
    agg = ranked.agg(
        F.sum("__m").cast("long").alias("n_items"),
        F.sum(m * x).alias("__sx"),
        F.sum(m * y).alias("__sy"),
        F.sum(m * x * x).alias("__sxx"),
        F.sum(m * y * y).alias("__syy"),
        F.sum(m * x * y).alias("__sxy"),
    )
    n = F.col("n_items").cast("double")
    cov = F.col("__sxy") - F.col("__sx") * F.col("__sy") / n
    varx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / n
    vary = F.col("__syy") - F.col("__sy") * F.col("__sy") / n
    slope = F.when(varx > 0, cov / varx)
    return agg.select(
        "n_items",
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (F.round((F.col("__sy") - slope * F.col("__sx")) / n, 6) + F.lit(0.0)).alias(
            "intercept"
        ),
        (F.round(F.when(vary > 0, (cov * cov) / (varx * vary)), 6) + F.lit(0.0)).alias(
            "r2"
        ),
    )


def gini_concentration(events: DataFrame, key: str = "itemid") -> DataFrame:
    """Gini coefficient of the ``key`` popularity distribution — the
    inequality companion to :func:`zipf_slope` (0 = every item equally
    popular, →1 = all traffic on one item). One row:
    (n_items, total_events, gini).

    Exact-integer construction: with per-item counts sorted ASCENDING and
    1-based positions i, G = 2·Σ i·cᵢ / (n·Σc) − (n+1)/n. Σ i·cᵢ is
    invariant to how positions are assigned WITHIN a tied-count block (c
    is constant there), so the frame again collapses to COUNT-VALUE GRAIN
    (cf. :func:`zipf_slope`): a block of ``m`` items with count ``c``
    starting at position ``r₀`` contributes c·(m·r₀ + m(m−1)/2), all
    integer arithmetic, accumulated in DECIMAL(38,0) so Σ i·cᵢ is exact
    far past 2^63. The only window orders |distinct count values| rows.
    The oracle runs the naive per-item row_number() spelling."""
    counts = (
        events.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count("*").alias("__c"))
    )
    grain = counts.groupBy("__c").agg(F.count("*").alias("__m"))
    w = Window.orderBy(F.asc("__c")).rowsBetween(Window.unboundedPreceding, -1)
    ranked = grain.select(
        "__c",
        "__m",
        (F.coalesce(F.sum("__m").over(w), F.lit(0)) + 1).alias("__r0"),
    ).withColumn(
        # m(m-1)/2 must ALSO stay out of BIGINT: a tied-count block of
        # >= ~3.04e9 items would wrap m*(m-1) silently in non-ANSI mode.
        # Exactly one of m, m-1 is even, so halve that factor first (each
        # factor alone fits BIGINT) and take the product in DECIMAL(38,0);
        # every multi-factor product here is decimal, nothing intermediate
        # exceeds BIGINT.
        "__t",
        F.expr(
            "CAST(__c AS DECIMAL(38,0)) * "
            "(CAST(__m AS DECIMAL(38,0)) * __r0 + "
            " CASE WHEN __m % 2 = 0 "
            "   THEN CAST(__m DIV 2 AS DECIMAL(38,0)) * (__m - 1) "
            "   ELSE CAST(__m AS DECIMAL(38,0)) * ((__m - 1) DIV 2) END)"
        ),
    )
    agg = ranked.agg(
        F.sum("__m").cast("long").alias("n_items"),
        F.sum(F.col("__c") * F.col("__m")).cast("long").alias("total_events"),
        F.sum("__t").alias("__T"),
    )
    n = F.col("n_items").cast("double")
    gini = (
        F.lit(2.0) * F.col("__T").cast("double") / (n * F.col("total_events").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    return agg.select(
        "n_items",
        "total_events",
        (F.round(gini, 6) + F.lit(0.0)).alias("gini"),
    )


def burstiness(events: DataFrame, k: int = 100) -> DataFrame:
    """Per-item index of dispersion (variance/mean of per-minute event
    counts over the item's ACTIVE minutes) — the burstiness diagnostic
    separating steady sellers (≈ Poisson, dispersion ≈ 1) from
    flash-spike items (≫ 1). Top-``k`` by volume, tiebreak itemid.

    Two stacked aggregations on the same grain-reduction path as the
    per-minute analyses: fact → (item, minute) counts → per-item moment
    sums (n, Σc, Σc²) — all exact integers, so the double arithmetic on
    top is bit-identical across engines (the expression is spelled the
    same on both sides; ``+ 0.0`` canonicalizes the single-minute-item
    −0.0)."""
    pm = (
        events.filter(F.col("itemid").isNotNull())
        .groupBy("itemid", F.date_trunc("minute", F.col("event_time")).alias("__min"))
        .agg(F.count("*").alias("__c"))
    )
    g = pm.groupBy("itemid").agg(
        F.count("*").cast("long").alias("n_minutes"),
        F.sum("__c").cast("long").alias("n_events"),
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__ssq"),
    )
    n = F.col("n_minutes").cast("double")
    tot = F.col("n_events").cast("double")
    mean = tot / n
    var = (F.col("__ssq").cast("double") - tot * tot / n) / n
    return (
        g.select(
            "itemid",
            "n_minutes",
            "n_events",
            (F.round(var / mean, 6) + F.lit(0.0)).alias("dispersion"),
        )
        .orderBy(F.desc("n_events"), F.asc("itemid"))
        .limit(k)
    )


def novelty_rate(events: DataFrame) -> DataFrame:
    """Per-day catalog novelty: of the distinct items seen each day, the
    fraction whose GLOBAL first appearance is that day — the
    incremental-corpus diagnostic behind "is today's traffic hitting new
    inventory or the back catalog".

    Two item-keyed aggregations (global first-day per item; distinct
    (item, day) pairs) joined on the item key — the join is item-grain,
    never event-grain, and both sides come off the same shuffle key.
    Output: (day, n_items, n_new_items, novelty)."""
    ev = events.filter(F.col("itemid").isNotNull()).select(
        "itemid", F.date_trunc("day", F.col("event_time")).alias("__day")
    )
    first = ev.groupBy("itemid").agg(F.min("__day").alias("__first_day"))
    daily = ev.distinct()
    return (
        daily.join(first, "itemid")
        .groupBy(F.col("__day").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(
                F.when(F.col("__day") == F.col("__first_day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new_items"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_new_items") / F.col("n_items"), 6)
        )
    )


def binned_quantiles(
    events: DataFrame,
    value_col: str = "value",
    bin_width: float = 0.5,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Single-pass mergeable quantile estimation — the fixed-memory scale
    path next to the exact ``value_quantiles_by_event``: values histogram
    into ``bin_width`` bins, and each requested quantile reports its
    bin's LOWER EDGE (error bounded by ``bin_width`` by construction,
    never by data volume). Histograms merge by addition, so the same
    operator serves per-shard rollups and incremental refresh — the
    contract a sort-based exact percentile cannot offer at 100 TB.

    The plan is a bin-keyed count (map-side combined; ≤ range/width
    groups), one running-sum window over that tiny grain, and a 1-row
    aggregate picking the first bin whose cumulative count reaches
    ``ceil(q·n)`` — all exact integer arithmetic on both engines.
    NaN is excluded with the same guard as ``value_histogram``.
    Output: (n_values, q50_lo, q90_lo, q99_lo) for the default
    quantiles, each the bin lower edge rounded to 6 decimals."""
    keep = F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    bins = (
        events.filter(keep)
        .groupBy(
            F.floor(F.col(value_col) / F.lit(bin_width)).cast("long").alias("__b")
        )
        .agg(F.count("*").alias("__c"))
    )
    w = Window.orderBy(F.asc("__b")).rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "__b", "__c", F.sum("__c").over(w).alias("__cum")
    )
    total = cum.agg(F.sum("__c").cast("long").alias("n_values"))
    picks = [
        F.round(
            F.min(
                F.when(
                    F.col("__cum") >= F.ceil(F.lit(q) * F.col("n_values")),
                    F.col("__b"),
                )
            )
            * F.lit(bin_width),
            6,
        ).alias(f"q{int(q * 100)}_lo")
        for q in quantiles
    ]
    # empty input -> ZERO rows (not one all-NULL row), matching the
    # oracle's GROUP BY n_values over an empty histogram
    return (
        cum.crossJoin(F.broadcast(total))
        .agg(F.max("n_values").alias("n_values"), *picks)
        .where(F.col("n_values").isNotNull())
    )


def first_touch_funnel(
    events: DataFrame, funnel_steps: list[str] | None = None
) -> DataFrame:
    """FIRST-TOUCH ordered funnel per visitor: step k counts iff each
    step's FIRST-EVER occurrence is at/after the previous step's first
    occurrence, a pure function of the per-step minimum times.
    ``sequential_funnel`` is the strict chained-min variant.

    ONE visitor-keyed exchange: K conditional mins in a single
    aggregation (map-side combined), then the chained ordering check and
    the NULLing of times beyond the reached step are per-row expressions
    on the visitor-grain frame. Output (visitorid, steps_reached,
    <step>_time ... — NULL at/after the first order violation)."""
    steps = DEFAULT_FUNNEL_STEPS if funnel_steps is None else funnel_steps
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps}")
    mins = [
        F.min(F.when(F.col("event") == s, F.col("event_time"))).alias(f"__m{i}")
        for i, s in enumerate(steps)
    ]
    g = events.groupBy("visitorid").agg(*mins)
    k = F.lit(len(steps))
    for i in range(len(steps) - 1, 0, -1):
        k = F.when(
            F.col(f"__m{i}").isNull()
            | (F.col(f"__m{i}") < F.col(f"__m{i - 1}")),
            F.lit(i),
        ).otherwise(k)
    k = F.when(F.col("__m0").isNull(), F.lit(0)).otherwise(k)
    staged = g.withColumn("steps_reached", k.cast("int"))
    return staged.select(
        "visitorid",
        "steps_reached",
        *[
            F.when(F.col("steps_reached") > i, F.col(f"__m{i}")).alias(
                f"{s}_time"
            )
            for i, s in enumerate(steps)
        ],
    )  # no trailing sort: per-visitor grain is unbounded at scale and the
    # comparison is order-insensitive (VERDICT r7 #5)


def decay_attribution(
    events: DataFrame,
    horizon_s: int = 86400,
    convert_event: str = "purchase",
    touch_event: str = "view",
    window_touches: int = 20,
) -> DataFrame:
    """Recency-decay multi-touch attribution: within each conversion's
    horizon, the most recent touch earns double the next-most-recent's
    credit, halving geometrically — normalized weights
    ``2^(m−r) / (2^m − 1)`` for recency rank r of m kept touches (most
    recent r = 1; only the last ``window_touches`` touches participate).
    The recency-weighted companion of :func:`linear_attribution`.

    Weights are EXACT DYADIC RATIONALS built from integer shifts — no
    ``exp``/``pow`` libm call whose last-ulp behavior differs across
    engines: both operands of the one division are exactly representable
    integers, so the quotient is identically rounded everywhere, then
    quantized to 12 decimals and summed as exact DECIMAL. The touch cap also bounds the
    shift at ``window_touches`` bits — BIGINT-safe by construction.

    Same join shape as linear_attribution (one (visitorid, horizon-bucket)
    range join — :func:`_attribution_pairs`); the recency rank adds one
    conversion-keyed window over the pair frame, whose per-conversion size
    the cap bounds, and the kept count m rides the same exchange as a
    count(*)-over-partition window
    (see position_attribution — the r13 shave that replaced the
    checkpoint + groupBy + self-join spelling). Output:
    (itemid, conversions_touched, credit), credit rounded to 6."""
    pairs = _attribution_pairs(events, horizon_s, convert_event, touch_event)
    w = Window.partitionBy("__cid").orderBy(F.desc("__tt"), F.asc("__tid"))
    ranked = pairs.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= window_touches
    )
    num = F.expr("shiftleft(CAST(1 AS BIGINT), __m - __r)")
    den = F.expr("shiftleft(CAST(1 AS BIGINT), __m) - 1")
    return (
        ranked.withColumn("__m", F.count("*").over(Window.partitionBy("__cid")))
        .groupBy("itemid")
        .agg(
            F.count_distinct("__cid").alias("conversions_touched"),
            F.round(
                F.sum(
                    F.round(num.cast("double") / den.cast("double"), 12).cast(
                        "decimal(18,12)"
                    )
                ).cast("double"),
                6,
            ).alias("credit"),
        )
    )


def first_touch_attribution(
    events: DataFrame,
    horizon_s: int = 86400,
    convert_event: str = "purchase",
    touch_event: str = "view",
) -> DataFrame:
    """FIRST-TOUCH attribution — the fourth member of the credit family
    (linear / decay / position / first): each conversion's WHOLE credit
    goes to the item of its EARLIEST in-horizon touch (deterministic
    tiebreak on touch event_id), so per-item credit is an exact integer
    count of conversions and the conservation law is trivial to audit
    (Σ conversions over items == conversions with ≥1 in-horizon touch).

    Same bounded (visitorid, horizon-bucket) range join as
    :func:`linear_attribution` (:func:`_attribution_pairs`); the
    per-conversion argmin is ONE ``min_by(item, (tt, tid))`` aggregation —
    map-side combinable, no window, no per-conversion fan-out join.
    Output (itemid, conversions)."""
    pairs = _attribution_pairs(events, horizon_s, convert_event, touch_event)
    first = pairs.groupBy("__cid").agg(
        F.min_by("itemid", F.struct(F.col("__tt"), F.col("__tid"))).alias("itemid")
    )
    return first.groupBy("itemid").agg(
        F.count("*").cast("long").alias("conversions")
    )


def position_attribution(
    events: DataFrame,
    horizon_s: int = 86400,
    convert_event: str = "purchase",
    touch_event: str = "view",
    window_touches: int = 20,
) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — one of the four
    credit models (:func:`linear_attribution` / :func:`decay_attribution` /
    :func:`first_touch_attribution` / this): within each
    conversion's horizon, the FIRST touch earns 40%, the LAST 40%, and the
    middle touches split the remaining 20% — the industry-standard "U"
    that rewards discovery and closing over mid-journey noise.

    Credits are INTEGER PPM units (1 conversion = 1,000,000 ppm): a lone
    touch takes 1,000,000; two touches 500,000 each; with m ≥ 3, first and
    last take 400,000 and each middle takes ``200000 DIV (m-2)`` ppm
    (integer division; the sub-ppm remainder is deliberately dropped — the
    exact-integer discipline every score in this repo follows, so the sum
    is hash-identical on any engine). Same single (visitorid,
    horizon-bucket)-keyed range join (:func:`_attribution_pairs` — the
    r14 bucketing that moved the range selectivity into the SMJ key,
    VERDICT r13 #1) + conversion-keyed rank window as decay_attribution;
    the per-conversion kept-touch count m is a ``count(*) over (partition
    by conversion)`` window on the SAME exchange the rank window already
    paid (its sort order satisfies the count's partitioning), so the
    whole operator is join → one windowed exchange → item rollup — no
    checkpoint, no second aggregation, no self-join (the r13 shave: the
    old groupBy(m)+join spelling cost a checkpoint barrier plus
    two extra exchanges; FLOOR_CHECK_R13.json showed that was real data
    work, not job floor). Output:
    (itemid, conversions_touched, credit_ppm)."""
    pairs = _attribution_pairs(events, horizon_s, convert_event, touch_event)
    # keep the most RECENT window_touches (the decay_attribution cap), but
    # position ranks run oldest-first so "first touch" means first KEPT
    w_recent = Window.partitionBy("__cid").orderBy(F.desc("__tt"), F.asc("__tid"))
    ranked = pairs.withColumn("__rr", F.row_number().over(w_recent)).filter(
        F.col("__rr") <= window_touches
    )
    # m = kept touches per conversion, as a window on the rank window's
    # exchange (count needs only __cid partitioning, which the existing
    # (__cid, __tt desc, __tid) sort already provides — zero extra shuffle)
    m_w = F.count("*").over(Window.partitionBy("__cid"))
    pos = (F.col("__m") - F.col("__rr") + 1).alias("__pos")  # 1 = oldest kept
    staged = ranked.withColumn("__m", m_w).select(
        "__cid", "itemid", F.col("__m"), pos
    )
    ppm = (
        F.when(F.col("__m") == 1, F.lit(1_000_000))
        .when(F.col("__m") == 2, F.lit(500_000))
        .when(F.col("__pos") == 1, F.lit(400_000))
        .when(F.col("__pos") == F.col("__m"), F.lit(400_000))
        .otherwise(F.expr("200000 div (__m - 2)"))
    ).cast("long")
    return staged.groupBy("itemid").agg(
        F.count_distinct("__cid").alias("conversions_touched"),
        F.sum(ppm).alias("credit_ppm"),
    )


def cart_abandonment_by_item(
    events: DataFrame,
    view_event: str = "view",
    convert_event: str = "purchase",
) -> DataFrame:
    """Per-item abandonment: of the visitors who VIEWED an item, how many
    never purchased it — the merchandising signal behind retargeting
    budgets. Grain collapses to (itemid, visitorid) flags in ONE exchange
    (map-side combined booleans), then an item rollup; visitors who
    purchased without a recorded view are excluded from the denominator
    (they never "abandoned"). Output (itemid, n_viewers, n_buyers,
    n_abandoned, abandonment_rate) — rate is one division of exact
    integers, rounded to 6."""
    per = (
        events.filter(
            F.col("itemid").isNotNull()
            & F.col("event").isin([view_event, convert_event])
        )
        .groupBy("itemid", "visitorid")
        .agg(
            F.max((F.col("event") == view_event).cast("int")).alias("__v"),
            F.max((F.col("event") == convert_event).cast("int")).alias("__p"),
        )
        .filter(F.col("__v") == 1)
    )
    return per.groupBy("itemid").agg(
        F.count("*").cast("long").alias("n_viewers"),
        F.sum("__p").cast("long").alias("n_buyers"),
        (F.count("*") - F.sum("__p")).cast("long").alias("n_abandoned"),
        F.round(
            (F.count("*") - F.sum("__p")) / F.count("*").cast("double"), 6
        ).alias("abandonment_rate"),
    )


def repeat_purchase_rate(
    events: DataFrame, convert_event: str = "purchase"
) -> DataFrame:
    """Per-item repeat-purchase structure: buyers, buyers who came back
    (2+ purchases of the SAME item), and the repeat share — the
    replenishment-vs-durable classifier. Two stacked aggregations on the
    same purchase-only projection ((item, visitor) counts, then the item
    rollup); output (itemid, n_buyers, n_repeat_buyers, n_purchases,
    repeat_rate) with the rate one exact-integer division rounded to 6."""
    per = (
        events.filter(
            (F.col("event") == convert_event) & F.col("itemid").isNotNull()
        )
        .groupBy("itemid", "visitorid")
        .agg(F.count("*").alias("__n"))
    )
    return per.groupBy("itemid").agg(
        F.count("*").cast("long").alias("n_buyers"),
        F.sum((F.col("__n") >= 2).cast("int")).cast("long").alias("n_repeat_buyers"),
        F.sum("__n").cast("long").alias("n_purchases"),
        F.round(
            F.sum((F.col("__n") >= 2).cast("int")) / F.count("*").cast("double"), 6
        ).alias("repeat_rate"),
    )


def path_conversion_rates(
    sessionized: DataFrame,
    prefix_len: int = 3,
    convert_event: str = "purchase",
) -> DataFrame:
    """Conversion probability by session OPENING path: group sessions on
    the ordered prefix of their first ``prefix_len`` events and report how
    often each opening converts — the "which entry flows buy" readout that
    turns :func:`user_paths` from descriptive into decision-grade.

    Same collect_list(struct)→array_sort core as :func:`top_paths` (the
    canonical struct-sort spelling; struct sorts on (event_time, event_id,
    event) — a TOTAL order, so the prefix is deterministic), but the
    conversion flag is a ``max(event = X)``
    computed in the SAME aggregation — partial-agg friendly, no array
    probe. One session-keyed exchange, then a prefix-grain rollup of
    exact integers. Output (path_prefix, n_sessions, n_converted,
    conversion_rate)."""
    s = sessionized.withColumn(
        "__es", F.struct("event_time", "event_id", "event")
    )
    per = s.groupBy("session_id").agg(
        F.array_sort(F.collect_list("__es")).alias("__ev"),
        F.max((F.col("event") == convert_event).cast("int")).alias("__c"),
    )
    # GetArrayStructFields (codegen), not a transform lambda — see
    # user_paths' docstring for the measured 100× gap
    prefix = F.concat_ws(
        ">",
        F.slice(F.col("__ev"), 1, int(prefix_len)).getField("event"),
    )
    g = per.select(prefix.alias("path_prefix"), F.col("__c"))
    return g.groupBy("path_prefix").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("__c").cast("long").alias("n_converted"),
        F.round(F.sum("__c") / F.count("*").cast("double"), 6).alias(
            "conversion_rate"
        ),
    )


def returning_visitor_rate(events: DataFrame) -> DataFrame:
    """One-row loyalty summary: visitors active on 2+ DISTINCT days over
    the window — the retention number a clickstream dashboard leads with.
    Visitor-keyed distinct-day count (one exchange), then a 1-row rollup
    of exact integers. Output (n_visitors, n_returning, returning_rate)."""
    per = events.groupBy("visitorid").agg(
        F.count_distinct(F.to_date("event_time")).alias("__d")
    )
    return per.agg(
        F.count("*").cast("long").alias("n_visitors"),
        F.sum((F.col("__d") >= 2).cast("int")).cast("long").alias("n_returning"),
        F.round(
            F.sum((F.col("__d") >= 2).cast("int")) / F.count("*").cast("double"),
            6,
        ).alias("returning_rate"),
    )


def item_revisit_time(events: DataFrame, min_revisits: int = 5) -> DataFrame:
    """Per-item re-engagement cadence: for each (visitor, item) pair the
    gaps between consecutive interactions, rolled up per item — how long
    until users come BACK to an item (merchandising/recency features).
    Gap extraction is one lead() over the (visitorid, itemid) exchange
    (narrow columns only), then a map-side-combined item rollup of exact
    integer seconds; avg is the one double, rounded for cross-engine
    stability. Items with fewer than ``min_revisits`` gaps are noise and
    are dropped. Output (itemid, n_revisits, avg_revisit_s,
    max_revisit_s)."""
    w = Window.partitionBy("visitorid", "itemid").orderBy(
        "event_time", "event_id"
    )
    gaps = (
        events.filter(F.col("itemid").isNotNull())
        .withColumn(
            "__gap",
            F.unix_timestamp(F.lead("event_time").over(w))
            - F.unix_timestamp("event_time"),
        )
        .filter(F.col("__gap").isNotNull())
    )
    return (
        gaps.groupBy("itemid")
        .agg(
            F.count("*").cast("long").alias("n_revisits"),
            F.round(F.avg("__gap"), 6).alias("avg_revisit_s"),
            F.max("__gap").cast("long").alias("max_revisit_s"),
        )
        .filter(F.col("n_revisits") >= min_revisits)
    )


def session_gap_histogram(events: DataFrame) -> DataFrame:
    """log2-bucketed distribution of the inter-event gaps WITHIN each
    visitor's stream — the empirical evidence behind a sessionization
    threshold (the reference hard-codes 1800 s; this shows where the
    bimodal split actually sits). Gap -> bucket = floor(log2(gap+1)) is a
    pure map over one lead() on the visitorid exchange; the histogram
    grain is ~40 rows. Output (gap_bucket, bucket_min_s, n_gaps)."""
    w = Window.partitionBy("visitorid").orderBy("event_time", "event_id")
    gaps = (
        events.withColumn(
            "__gap",
            F.unix_timestamp(F.lead("event_time").over(w))
            - F.unix_timestamp("event_time"),
        )
        .filter(F.col("__gap").isNotNull())
    )
    bucket = F.floor(F.log2(F.col("__gap") + 1)).cast("long")
    return (
        gaps.select(bucket.alias("gap_bucket"))
        .groupBy("gap_bucket")
        .agg(F.count("*").cast("long").alias("n_gaps"))
        .withColumn(
            "bucket_min_s",
            (F.pow(F.lit(2.0), F.col("gap_bucket")) - 1).cast("long"),
        )
        .select("gap_bucket", "bucket_min_s", "n_gaps")
    )
