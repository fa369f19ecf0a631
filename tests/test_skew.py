"""Adversarial-skew fixture (VERDICT r7 #8): the organic fixtures spread
keys evenly, so the per-visitor window partitioning had only been exercised
on friendly data. This module builds a deliberately hostile input — ONE
visitor owning 20% of all events — and asserts the guarded operators finish
without a straggler: no task in any stage of the operator's job group may
run longer than 10× the stage median (AppStatusStore task durations via
py4j; stages whose slowest task is under the scheduling-noise floor are
skipped — a 40 ms vs 4 ms "straggler" is noise, not skew).
"""

from __future__ import annotations

import datetime as dt
import random

import pytest

# the detection machinery lives in the package (plans.diagnostics); this
# module keeps the adversarial fixtures + asserts
from clickestream_project_bigdata_spark.plans.diagnostics import (  # noqa: E402
    assert_no_straggler as _assert_no_straggler,
)
from clickestream_project_bigdata_spark.plans.diagnostics import (  # noqa: E402
    job_group,
)


def _run_grouped(spark, group: str, df) -> int:
    with job_group(spark, group):
        return df.count()


@pytest.fixture(scope="module")
def skewed_events(spark):
    """60k events; visitor 1 owns 20% of them (one window partition), the
    rest spread over 3k visitors; 200 items."""
    rng = random.Random(42)
    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for _ in range(12_000):  # the hub visitor: 20%
        eid += 1
        rows.append(
            (
                1,
                rng.choice(["view", "click", "purchase"]),
                base + dt.timedelta(seconds=rng.randrange(0, 2_000_000)),
                rng.randrange(1, 201),
                eid,
            )
        )
    for _ in range(48_000):
        eid += 1
        rows.append(
            (
                rng.randrange(2, 3_002),
                rng.choice(["view", "click", "purchase"]),
                base + dt.timedelta(seconds=rng.randrange(0, 2_000_000)),
                rng.randrange(1, 201),
                eid,
            )
        )
    return spark.createDataFrame(
        rows,
        "visitorid long, event string, event_time timestamp, "
        "itemid long, event_id long",
    ).repartition(8)


def test_sessionize_hub_visitor_no_straggler(spark, skewed_events):
    """The 20%-of-events visitor is ONE window partition; the assertion
    documents that the per-visitor exchange tolerates a 600x-average key
    at this scale (one task sorts 12k rows — the work unit stays bounded
    because sessionization carries only narrow columns into the sort)."""
    from clickestream_project_bigdata_spark.operators.sessionize import (
        session_metrics,
        sessionize,
    )

    out = session_metrics(sessionize(skewed_events))
    n = _run_grouped(spark, "skew-sessionize", out)
    assert n > 3_000
    _assert_no_straggler(spark, "skew-sessionize")


def test_top_paths_hub_visitor_no_straggler(spark, skewed_events):
    from clickestream_project_bigdata_spark.operators.analytics import top_paths
    from clickestream_project_bigdata_spark.operators.sessionize import sessionize

    out = top_paths(sessionize(skewed_events), k=20)
    n = _run_grouped(spark, "skew-toppaths", out)
    assert n == 20
    _assert_no_straggler(spark, "skew-toppaths")


def test_straggler_harness_sees_tasks(spark, skewed_events):
    """Meta-test: the AppStatusStore plumbing actually observes tasks (a
    broken py4j path would make every other assertion vacuous)."""
    sc = spark.sparkContext
    sc.setJobGroup("skew-meta", "meta")
    try:
        skewed_events.groupBy("visitorid").count().count()
    finally:
        sc._jsc.sc().clearJobGroup()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    total_tasks = 0
    for jid in tracker.getJobIdsForGroup("skew-meta"):
        info = tracker.getJobInfo(jid)
        for sid in list(info.stageIds):
            tl = store.taskList(int(sid), 0, 100_000)
            total_tasks += tl.size()
    assert total_tasks >= 8
