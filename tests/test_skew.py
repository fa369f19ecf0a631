"""Adversarial-skew fixture (VERDICT r7 #8): the organic fixtures spread
keys evenly, so every skew guard (window partitioning, `max_bucket_rows`,
blocked candidate generation) had only been exercised on friendly data.
This module builds deliberately hostile inputs — ONE visitor owning 20% of
all events, ONE token in 90% of all documents — and asserts the guarded
operators finish without a straggler: no task in any stage of the
operator's job group may run longer than 10× the stage median
(AppStatusStore task durations via py4j; stages whose slowest task is under
the scheduling-noise floor are skipped — a 40 ms vs 4 ms "straggler" is
noise, not skew).
"""

from __future__ import annotations

import datetime as dt
import random

import pytest

from pyspark.sql import functions as F

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


@pytest.fixture(scope="module")
def skewed_docs(spark):
    """4k docs of ~40 tokens; the token 'zipfhead' appears (several times)
    in 90% of docs — the collocation/token-count hot key."""
    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(2_000)]
    rows = []
    for i in range(4_000):
        toks = [rng.choice(vocab) for _ in range(40)]
        if i % 10 != 0:  # 90% of docs carry the hot token, 4 times each
            for pos in rng.sample(range(40), 4):
                toks[pos] = "zipfhead"
        rows.append((i, " ".join(toks), f"src{i % 5}"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


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


def test_collocations_hot_token_no_straggler(spark, skewed_docs):
    from clickestream_project_bigdata_spark.operators.text import collocations

    out = collocations(skewed_docs, k=50, min_count=3)
    n = _run_grouped(spark, "skew-colloc", out)
    assert n == 50
    _assert_no_straggler(spark, "skew-colloc")


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


@pytest.fixture(scope="module")
def alldup_docs(spark):
    """The adversarial 100x-checkpoint shape in miniature: every doc is a
    copy from a handful of templates, so each template's docs share EVERY
    minhash band — one band bucket per template holds the whole group and
    the pair join concentrates n(n-1)/2 work on one key."""
    rows = []
    for i in range(900):
        body = f"template {i % 3} body with shared repeated boilerplate text tokens"
        rows.append((i, body, len(body)))
    return spark.createDataFrame(rows, "doc_id long, text string, n_chars int")


def test_lsh_band_salt_guard_no_straggler(spark, alldup_docs):
    """300 docs per template share every band; with max_bucket_rows below
    the group size the salted path must split each bucket's pair work
    across salt values instead of one task owning the n^2 blowup."""
    from clickestream_project_bigdata_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    out = minhash_lsh_pairs(
        alldup_docs, threshold=0.9, max_bucket_rows=64, salt_buckets=8
    )
    n = _run_grouped(spark, "skew-lshsalt", out)
    # 3 templates x C(300, 2) exact-verified identical pairs
    assert n == 3 * (300 * 299) // 2
    _assert_no_straggler(spark, "skew-lshsalt")


def test_lsh_band_salt_candidates_identical(spark, alldup_docs):
    """Salting must only re-distribute the join — the candidate/pair SET is
    bit-identical to the unsalted spelling (superset property: a replica of
    b exists at every salt, so each pair still meets exactly once per band)."""
    from clickestream_project_bigdata_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    small = alldup_docs.filter(F.col("doc_id") < 120)
    salted = minhash_lsh_pairs(
        small, threshold=0.9, max_bucket_rows=16, salt_buckets=4
    )
    plain = minhash_lsh_pairs(small, threshold=0.9, salt_buckets=1)
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_lsh_salt_none_is_lazy_and_equal(spark, alldup_docs):
    """ADVICE r10: salt_buckets=None is the documented FULLY-LAZY mode —
    building the plan must run ZERO jobs (the default's skew census pays a
    full sketch at call time), and the pair set must equal the default's."""
    from clickestream_project_bigdata_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    from unittest.mock import patch

    from pyspark.sql import DataFrame

    small = alldup_docs.filter(F.col("doc_id") < 120)
    # plan build must trigger NO action — take/collect raising proves it
    with patch.object(
        DataFrame, "take", side_effect=AssertionError("eager take() in lazy mode")
    ), patch.object(
        DataFrame, "collect", side_effect=AssertionError("eager collect() in lazy mode")
    ):
        lazy = minhash_lsh_pairs(small, threshold=0.9, salt_buckets=None)
    default = minhash_lsh_pairs(small, threshold=0.9)
    assert lazy.exceptAll(default).count() == 0
    assert default.exceptAll(lazy).count() == 0
