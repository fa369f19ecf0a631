"""Property tests (SURVEY §5.4) — invariants over random event streams.

Each example builds a small single-user (or few-user) frame; examples are
capped because every example is a Spark round trip.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from clickestream_project_bigdata_spark.operators.sessionize import (
    session_metrics,
    sessionize,
)

BASE = dt.datetime(2024, 1, 1)

# strictly increasing gap list: each gap in seconds, mixing sub-gap and
# super-gap jumps around the 1800 s boundary
gaps_strategy = st.lists(
    st.sampled_from([1, 30, 1799, 1800, 1801, 3600, 60, 7200]),
    min_size=1,
    max_size=12,
)


def _events_from_gaps(spark, gaps: list[int], visitorid: int = 1):
    times, t = [BASE], BASE
    for g in gaps:
        t = t + dt.timedelta(seconds=g)
        times.append(t)
    rows = [(visitorid, "view", ts, 1) for ts in times]
    return spark.createDataFrame(
        rows, "visitorid long, event string, event_time timestamp, itemid long"
    )


@settings(max_examples=15, deadline=None)
@given(gaps=gaps_strategy)
def test_session_count_equals_big_gaps_plus_one(spark, gaps):
    """#sessions per user == #(gap > 1800 s) + 1 — the gaps-and-islands
    invariant, with the strict-> boundary (an exactly-1800 s gap does NOT
    split)."""
    events = _events_from_gaps(spark, gaps)
    n_sessions = session_metrics(sessionize(events)).count()
    assert n_sessions == sum(1 for g in gaps if g > 1800) + 1


@settings(max_examples=10, deadline=None)
@given(gaps=gaps_strategy)
def test_batch_and_session_window_agree(spark, gaps):
    """The native session_window partitioning yields the same number of
    sessions as the gaps-and-islands operator: touching windows merge, so
    both treat the exactly-1800 s boundary identically."""
    events = _events_from_gaps(spark, gaps)
    n_batch = session_metrics(sessionize(events)).count()
    n_sw = (
        events.groupBy(F.session_window("event_time", "30 minutes"), "visitorid")
        .count()
        .count()
    )
    assert n_batch == n_sw


@settings(max_examples=10, deadline=None)
@given(gaps=gaps_strategy)
def test_session_lengths_partition_the_timeline(spark, gaps):
    """Σ events_in_session == total events, and every session_length ≥ 0."""
    events = _events_from_gaps(spark, gaps)
    m = session_metrics(sessionize(events)).collect()
    assert sum(r["events_in_session"] for r in m) == len(gaps) + 1
    assert all(r["session_length"] >= 0 for r in m)


# --- portable hash family: cross-engine invariants ------------------------

text_strategy = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=8,
    unique=True,
)


@settings(max_examples=5, deadline=None)
@given(strings=text_strategy)
def test_phash60_parity_spark_duckdb_python(spark, strings):
    """The portable hash — the root primitive of every oracle-checked
    sketch — must agree across all three engines on arbitrary ASCII."""
    import duckdb

    from clickestream_project_bigdata_spark.functions.portable import (
        phash60,
        phash60_py,
        phash60_sql,
    )

    df = spark.createDataFrame([(s,) for s in strings], "t string")
    got_spark = {
        r.t: r.h for r in df.select("t", phash60(F.col("t")).alias("h")).collect()
    }
    con = duckdb.connect()
    for s in strings:
        esc = s.replace("'", "''")
        got_duck = con.sql(f"SELECT {phash60_sql(chr(39) + esc + chr(39))}").fetchone()[0]
        assert got_spark[s] == got_duck == phash60_py(s), s


@settings(max_examples=5, deadline=None)
@given(
    n_users=st.integers(min_value=1, max_value=200),
)
def test_kmv_estimator_bounds(spark, n_users):
    """KMV distinct estimate: exact below k; within 3/sqrt(k) relative error
    above (deterministic — the hash is fixed, so this is a hard bound over
    the sampled universe, not a statistical gamble)."""
    from clickestream_project_bigdata_spark.operators.analytics import active_users_kmv

    rows = [(v, BASE) for v in range(n_users)]
    df = spark.createDataFrame(rows, "visitorid long, event_time timestamp")
    [r] = active_users_kmv(df, k=32).collect()
    est = r["active_users_est"]
    if n_users < 32:
        assert est == float(n_users)
    else:
        assert abs(est - n_users) / n_users < 3 / (32**0.5), (n_users, est)


@settings(max_examples=10, deadline=None)
@given(
    n_events=st.integers(min_value=1, max_value=15),
    n_keys=st.integers(min_value=1, max_value=3),
)
def test_latest_event_state_is_argmax(spark, n_events, n_keys):
    """Keep-latest == the (ts, event_id)-argmax row per key, brute-forced."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        latest_event_state,
    )

    rows = [
        (
            i % n_keys,                   # visitorid
            (i * 7) % n_keys,             # itemid
            BASE + dt.timedelta(seconds=(i * 13) % 5),  # ts with ties
            i,                            # unique event_id tiebreak
            "view",
            float(i),
        )
        for i in range(n_events)
    ]
    df = spark.createDataFrame(
        rows,
        "visitorid long, itemid long, event_time timestamp, event_id long, event string, value double",
    )
    got = {
        (r.visitorid, r.itemid): r.event_id for r in latest_event_state(df).collect()
    }
    want: dict[tuple[int, int], tuple] = {}
    for v, it, ts, eid, _, _ in rows:
        key = (v, it)
        if key not in want or (ts, eid) > want[key]:
            want[key] = (ts, eid)
    assert got == {k: eid for k, (ts, eid) in want.items()}


# ---------------------------------------------------------------------------
# round 6: funnel / attribution invariants
# ---------------------------------------------------------------------------

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),                 # visitorid
        st.integers(min_value=0, max_value=200_000),           # offset seconds
        st.sampled_from(["view", "click", "purchase"]),
        st.integers(min_value=1, max_value=5),                 # itemid
    ),
    min_size=1,
    max_size=25,
)


@given(evs=events_strategy)
@settings(max_examples=12, deadline=None)
def test_timed_funnel_stage_counts_monotone(spark, evs):
    """users_step1 >= users_step2 >= users_step3 for ANY event stream, and
    step counts never exceed the distinct-visitor count."""
    from clickestream_project_bigdata_spark.operators.analytics import timed_funnel

    rows = [
        (v, e, BASE + dt.timedelta(seconds=off), i, idx, None)
        for idx, (v, off, e, i) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows,
        "visitorid long, event string, event_time timestamp, itemid long, "
        "event_id long, value double",
    )
    r = timed_funnel(df).collect()[0]
    assert r.users_step1 >= r.users_step2 >= r.users_step3
    assert r.users_step1 <= df.select("visitorid").distinct().count()


@given(evs=events_strategy)
@settings(max_examples=10, deadline=None)
def test_linear_attribution_credit_conserved(spark, evs):
    """Total credit == number of conversions that had >= 1 touch in the
    horizon (each such conversion distributes exactly 1.0)."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        linear_attribution,
    )

    rows = [
        (v, e, BASE + dt.timedelta(seconds=off), i, idx, None)
        for idx, (v, off, e, i) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows,
        "visitorid long, event string, event_time timestamp, itemid long, "
        "event_id long, value double",
    )
    got = linear_attribution(df, horizon_s=100_000).collect()
    total_credit = sum(r.credit for r in got)
    # brute-force expected count of credited conversions
    pur = [(v, t, idx) for idx, (v, t, e, i) in enumerate(
        (v, BASE + dt.timedelta(seconds=off), e, i) for (v, off, e, i) in evs
    ) if e == "purchase"]
    views = [(v, t) for (v, off, e, i) in evs
             for t in [BASE + dt.timedelta(seconds=off)] if e == "view"]
    credited = sum(
        1 for (pv, pt, _) in pur
        if any(tv == pv and t < pt and t >= pt - dt.timedelta(seconds=100_000)
               for (tv, t) in views)
    )
    assert abs(total_credit - credited) < 1e-4


# ---------------------------------------------------------------------------
# round-6-final operators
# ---------------------------------------------------------------------------

_overlap_rows = st.lists(
    st.tuples(st.integers(1, 8), st.sampled_from(["a", "b", "c", "d"])),
    min_size=0,
    max_size=30,
)


@settings(max_examples=10, deadline=None)
@given(rows=_overlap_rows)
def test_audience_overlap_matches_brute_force(spark, rows):
    """Pair counts and Jaccard equal the python set computation for every
    generated (user, event-type) multiset; pairs are unordered and unique."""
    from itertools import combinations

    from clickestream_project_bigdata_spark.operators.analytics import (
        audience_overlap,
    )

    data = [
        (v, e, dt.datetime(2024, 1, 1, 0, 0, i % 60), None)
        for i, (v, e) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data, "visitorid long, event string, event_time timestamp, itemid long"
    )
    got = {
        (r.event_a, r.event_b): (r.users_a, r.users_b, r.users_both, r.jaccard)
        for r in audience_overlap(ev).collect()
    }
    sets: dict[str, set[int]] = {}
    for v, e in rows:
        sets.setdefault(e, set()).add(v)
    expect = {}
    for a, b in combinations(sorted(sets), 2):
        both = len(sets[a] & sets[b])
        if both:
            expect[(a, b)] = (
                len(sets[a]),
                len(sets[b]),
                both,
                round(both / len(sets[a] | sets[b]), 6),
            )
    assert got == expect


_zipf_counts = st.lists(st.integers(1, 40), min_size=2, max_size=12)


@settings(max_examples=10, deadline=None)
@given(counts=_zipf_counts)
def test_zipf_slope_equals_naive_per_item_fit(spark, counts):
    """The count-value-grain weighted regression equals the naive per-item
    ln-ln least squares with SQL rank() (min rank for ties) to 6 dp."""
    import math

    from clickestream_project_bigdata_spark.operators.analytics import zipf_slope

    rows = []
    sec = 0
    for item, c in enumerate(counts):
        for _ in range(c):
            rows.append(
                (1, "view", dt.datetime(2024, 1, 1, sec // 3600, (sec // 60) % 60, sec % 60), item + 1)
            )
            sec += 1
    ev = spark.createDataFrame(
        rows, "visitorid long, event string, event_time timestamp, itemid long"
    )
    got = zipf_slope(ev).collect()[0]
    # naive per-item fit with min-rank ties
    desc = sorted(counts, reverse=True)
    pts = []
    for c in counts:
        rank = desc.index(c) + 1  # first position = min rank (SQL rank())
        pts.append((math.log(rank), math.log(c)))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    syy = sum(y * y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    varx = sxx - sx * sx / n
    assert got.n_items == n
    if varx <= 0:
        assert got.slope is None
        return
    cov = sxy - sx * sy / n
    vary = syy - sy * sy / n
    assert got.slope == round(cov / varx, 6) + 0.0
    assert got.intercept == round((sy - (cov / varx) * sx) / n, 6) + 0.0
    if vary > 0:
        assert abs(got.r2 - round(cov * cov / (varx * vary), 6)) <= 1e-6


@settings(max_examples=10, deadline=None)
@given(counts=st.lists(st.integers(1, 30), min_size=1, max_size=15))
def test_gini_concentration_matches_brute_force(spark, counts):
    """Count-value-grain Gini equals the per-item formula
    2·Σi·c_sorted_asc/(n·Σc) − (n+1)/n computed in python."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        gini_concentration,
    )

    rows = []
    sec = 0
    for item, c in enumerate(counts):
        for _ in range(c):
            rows.append(
                (1, "view", dt.datetime(2024, 1, 1, sec // 3600, (sec // 60) % 60, sec % 60), item + 1)
            )
            sec += 1
    ev = spark.createDataFrame(
        rows, "visitorid long, event string, event_time timestamp, itemid long"
    )
    got = gini_concentration(ev).collect()[0]
    asc = sorted(counts)
    n, s = len(asc), sum(asc)
    t = sum((i + 1) * c for i, c in enumerate(asc))
    expect = round(2.0 * t / (n * s) - (n + 1.0) / n, 6) + 0.0
    assert got.n_items == n and got.total_events == s
    assert abs(got.gini - expect) <= 1e-6


@settings(max_examples=10, deadline=None)
@given(
    evs=st.lists(
        st.tuples(st.sampled_from(["view", "click", "purchase"]), st.integers(0, 400)),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[1],
    )
)
def test_first_touch_funnel_matches_brute_force(spark, evs):
    """first_touch_funnel == the obvious python fold over per-step minimum
    times, for any event multiset (ordering-violation truncation included)."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        first_touch_funnel,
    )

    steps = ["view", "click", "purchase"]
    rows = [
        (1, e, BASE + dt.timedelta(seconds=off), None, off) for e, off in evs
    ]
    df = spark.createDataFrame(
        rows,
        "visitorid long, event string, event_time timestamp, itemid long, event_id long",
    )
    [r] = first_touch_funnel(df, steps).collect()
    mins = {
        s: min((off for e, off in evs if e == s), default=None) for s in steps
    }
    k, prev = 0, None
    for s in steps:
        m = mins[s]
        if m is None or (prev is not None and m < prev):
            break
        k, prev = k + 1, m
    assert r.steps_reached == k
    for i, s in enumerate(steps):
        expect = (
            BASE + dt.timedelta(seconds=mins[s]) if i < k else None
        )
        assert r[f"{s}_time"] == expect, (s, evs)


# --- round 8: attribution conservation + skipgram brute force --------------

_touch_rows = st.lists(
    st.tuples(
        st.integers(1, 4),        # visitor
        st.integers(0, 50_000),   # seconds offset
        st.sampled_from(["view", "purchase"]),
        st.integers(1, 8),        # item
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None)
@given(rows=_touch_rows)
def test_position_attribution_conserves_ppm(spark, rows):
    """Invariant: every conversion with >= 1 in-horizon touch distributes
    AT MOST 1,000,000 ppm (exactly 1M minus the integer-division residue
    of the middle split), and total credit == sum over conversions."""
    from clickestream_project_bigdata_spark.operators.analytics import (
        position_attribution,
    )

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (v, e, base + dt.timedelta(seconds=s), it, i + 1)
            for i, (v, s, e, it) in enumerate(rows)
        ],
        "visitorid long, event string, event_time timestamp, "
        "itemid long, event_id long",
    )
    out = position_attribution(ev, horizon_s=86400).collect()
    total = sum(r.credit_ppm for r in out)
    # brute-force the per-conversion expectation
    convs = [
        (v, s, i + 1) for i, (v, s, e, it) in enumerate(rows) if e == "purchase"
    ]
    expect = 0
    for cv, cs, cid in convs:
        touches = [
            (s, i + 1)
            for i, (v, s, e, it) in enumerate(rows)
            if e == "view" and v == cv and s < cs and s >= cs - 86400
        ]
        m = min(len(touches), 20)
        if m == 0:
            continue
        if m <= 2:
            expect += 1_000_000
        else:
            expect += 800_000 + (200_000 // (m - 2)) * (m - 2)
    assert total == expect


@settings(max_examples=10, deadline=None)
@given(rows=_touch_rows, horizon=st.sampled_from([900, 3600, 7201]))
def test_attribution_pairs_bucketing_exact(spark, rows, horizon):
    """The r14 bucketed range join (_attribution_pairs keys the SMJ on
    (visitorid, horizon-bucket) with the conversion side exploded to two
    buckets) must emit EXACTLY the pairs of the naive visitorid join with
    the same time predicates — no duplicates (a touch's bucket matches
    exactly one exploded value), no misses (bucket width == horizon, so
    an in-horizon touch is always in the conversion's bucket or the one
    before). Horizons far below the 50ks event span force pairs that
    straddle bucket boundaries."""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.analytics import (
        _attribution_pairs,
    )

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (v, e, base + dt.timedelta(seconds=s), it, i + 1)
            for i, (v, s, e, it) in enumerate(rows)
        ],
        "visitorid long, event string, event_time timestamp, "
        "itemid long, event_id long",
    )
    got = _attribution_pairs(ev, horizon, "purchase", "view")
    conv = ev.filter(F.col("event") == "purchase").select(
        F.col("visitorid").alias("__cv"),
        F.col("event_time").alias("__ct"),
        F.col("event_id").alias("__cid"),
    )
    touch = ev.filter(
        (F.col("event") == "view") & F.col("itemid").isNotNull()
    ).select(
        F.col("visitorid").alias("__tv"),
        F.col("event_time").alias("__tt"),
        F.col("event_id").alias("__tid"),
        F.col("itemid"),
    )
    naive = conv.join(
        touch,
        (F.col("__cv") == F.col("__tv"))
        & (F.col("__tt") < F.col("__ct"))
        & (
            F.col("__tt")
            >= F.col("__ct") - F.make_dt_interval(secs=F.lit(horizon))
        ),
    ).select("__cv", "__ct", "__cid", "__tt", "__tid", "itemid")
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0


# --- round 9: attribution family end-to-end brute-force (VERDICT r8 #8) ----


def _attr_touches(rows, horizon):
    """Per-conversion in-horizon touch list, oldest-first with the engine's
    (time ASC, event_id ASC) tiebreak. rows: (visitor, sec, event, item);
    event_id of rows[i] is i+1. Conversions with zero touches drop out."""
    out = {}
    for i, (v, s, e, it) in enumerate(rows):
        if e != "purchase":
            continue
        touches = sorted(
            (s2, j + 1, it2)
            for j, (v2, s2, e2, it2) in enumerate(rows)
            if e2 == "view" and v2 == v and s2 < s and s2 >= s - horizon
        )
        if touches:
            out[i + 1] = touches
    return out


def _kept_recent(touches, cap):
    """The engine's cap rule: keep the most recent `cap` touches (time DESC,
    event_id ASC), then return them OLDEST-FIRST."""
    kept = sorted(touches, key=lambda t: (-t[0], t[1]))[:cap]
    return kept[::-1]


@settings(max_examples=8, deadline=None)
@given(rows=_touch_rows)
def test_attribution_family_matches_brute_force(spark, rows):
    """linear / decay / position / first_touch against a per-conversion
    Python reference, per ITEM (not just totals), with an adversarial
    25-touch visitor appended to every example so the window_touches cap
    (m > 20) is exercised each run."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    from clickestream_project_bigdata_spark.operators.analytics import (
        decay_attribution,
        first_touch_attribution,
        linear_attribution,
        position_attribution,
    )

    # adversarial block: visitor 9 has 25 in-horizon views then converts
    rows = list(rows) + [(9, 100 * k, "view", 1 + k % 3) for k in range(25)]
    rows.append((9, 40_000, "purchase", 1))

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (v, e, base + dt.timedelta(seconds=s), it, i + 1)
            for i, (v, s, e, it) in enumerate(rows)
        ],
        "visitorid long, event string, event_time timestamp, "
        "itemid long, event_id long",
    )
    horizon, cap = 86_400, 20
    per_conv = _attr_touches(rows, horizon)

    # first touch: whole credit to the earliest touch's item
    want_first = Counter(t[0][2] for t in per_conv.values())
    got = {r.itemid: r.conversions
           for r in first_touch_attribution(ev, horizon_s=horizon).collect()}
    assert got == dict(want_first)

    # linear: 1/n to every touch's item (uncapped), 12-dec exact decimal sum
    want_lin = defaultdict(Decimal)
    for touches in per_conv.values():
        share = Decimal(repr(round(1.0 / len(touches), 12)))
        for _, _, it in touches:
            want_lin[it] += share
    got = {r.itemid: r.credit
           for r in linear_attribution(ev, horizon_s=horizon).collect()}
    assert set(got) == set(want_lin)
    for it, w in want_lin.items():
        assert abs(got[it] - float(round(w, 6))) < 1e-9, (it, got[it], w)

    # decay: most recent of the KEPT m doubles the next, dyadic weights
    want_dec = defaultdict(Decimal)
    for touches in per_conv.values():
        kept = _kept_recent(touches, cap)
        m = len(kept)
        for pos, (_, _, it) in enumerate(kept, start=1):  # pos 1 = oldest
            r = m - pos + 1  # recency rank, 1 = most recent
            want_dec[it] += Decimal(
                repr(round((1 << (m - r)) / ((1 << m) - 1), 12))
            )
    got = {r.itemid: r.credit
           for r in decay_attribution(ev, horizon_s=horizon).collect()}
    assert set(got) == set(want_dec)
    for it, w in want_dec.items():
        assert abs(got[it] - float(round(w, 6))) < 1e-9, (it, got[it], w)

    # position (U-shaped): 40/20/40 integer ppm over the kept m
    want_pos = Counter()
    for touches in per_conv.values():
        kept = _kept_recent(touches, cap)
        m = len(kept)
        for pos, (_, _, it) in enumerate(kept, start=1):
            if m == 1:
                ppm = 1_000_000
            elif m == 2:
                ppm = 500_000
            elif pos in (1, m):
                ppm = 400_000
            else:
                ppm = 200_000 // (m - 2)
            want_pos[it] += ppm
    got = {r.itemid: r.credit_ppm
           for r in position_attribution(ev, horizon_s=horizon).collect()}
    assert got == dict(want_pos)
