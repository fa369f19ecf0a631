"""Runtime skew diagnostics: per-stage task-duration straggler detection.

The scale story's enforcement arm: a plan can look right and still funnel
one hot key through one task. These helpers read the driver's
AppStatusStore (via py4j — the same store the UI/REST API serve, populated
with ``spark.ui.enabled`` either way) for every stage of a job group and
compare each stage's slowest task against its median.
``tests/test_skew.py`` uses them to ASSERT no straggler on a
deliberately hostile fixture (one visitor owning 20% of events).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

#: a stage's slowest task may not exceed this multiple of the stage median
STRAGGLER_RATIO = 10.0
#: stages whose slowest task is below this (ms) are scheduling noise — a
#: 40 ms vs 4 ms "straggler" is jitter, not skew
MIN_INTERESTING_MS = 400


@contextmanager
def job_group(spark: SparkSession, group: str) -> Iterator[None]:
    """Run the enclosed actions under a named job group (the unit the
    status store is queried by)."""
    spark.sparkContext.setJobGroup(group, group)
    try:
        yield
    finally:
        spark.sparkContext._jsc.sc().clearJobGroup()


#: a stage "does real distributed work" when its MEDIAN task reaches this;
#: below it, one 3 s task against a 0.2 s median is a mini-stage tail
#: (setup, tiny rollups, iteration stubs), not a scale-killing hot key —
#: the heavy-stage ratio is the number that predicts 1000-executor behavior
HEAVY_STAGE_MEDIAN_MS = 1000


def straggler_report(spark: SparkSession, group: str) -> dict:
    """Scan every completed stage of ``group``; return the worst
    max-task/median-task ratio two ways:

    * ``worst_ratio`` / ``worst_stage`` — over every stage heavy enough to
      judge at all (>= 2 tasks, slowest >= MIN_INTERESTING_MS): the
      strictest reading, used by tests/test_skew.py's assertions;
    * ``worst_ratio_heavy`` / ``worst_stage_heavy`` — restricted to stages
      whose MEDIAN task is >= HEAVY_STAGE_MEDIAN_MS, i.e. stages where the
      whole cluster is genuinely working. A 30x ratio on a stage whose
      median task is 0.2 s and whose slowest is 7 s in a 380 s query is a
      mini-stage tail (<2% of wall); a 30x ratio on a stage with a 10 s
      median is a hot key eating the job. The 100x checkpoint reads the
      heavy number, reports both.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    checked, worst_ratio, worst = 0, 0.0, None
    worst_ratio_heavy, worst_heavy = 0.0, None
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in list(info.stageIds):
            tl = store.taskList(int(sid), 0, 100_000)
            durs = sorted(
                tl.apply(i).duration().get()
                for i in range(tl.size())
                if tl.apply(i).duration().isDefined()
            )
            if len(durs) < 2 or durs[-1] < MIN_INTERESTING_MS:
                continue
            med = max(durs[len(durs) // 2], 1)
            ratio = durs[-1] / med
            checked += 1
            stage_info = {
                "stage": int(sid),
                "max_ms": int(durs[-1]),
                "median_ms": int(med),
                "n_tasks": len(durs),
            }
            if ratio > worst_ratio:
                worst_ratio = ratio
                worst = stage_info
            if med >= HEAVY_STAGE_MEDIAN_MS and ratio > worst_ratio_heavy:
                worst_ratio_heavy = ratio
                worst_heavy = stage_info
    return {
        "stages_checked": checked,
        "worst_ratio": round(worst_ratio, 2),
        "worst_stage": worst,
        "worst_ratio_heavy": round(worst_ratio_heavy, 2),
        "worst_stage_heavy": worst_heavy,
    }


def assert_no_straggler(spark: SparkSession, group: str) -> int:
    """Assert max task duration <= STRAGGLER_RATIO x median for every
    checkable stage in ``group``; returns how many stages were checked."""
    rep = straggler_report(spark, group)
    assert rep["worst_ratio"] <= STRAGGLER_RATIO, (
        f"straggler in {group}: {rep['worst_stage']} "
        f"(ratio {rep['worst_ratio']})"
    )
    return rep["stages_checked"]
