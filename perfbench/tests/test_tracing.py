"""Tracing helpers: self time, progress records, event-log parsing and
stage attribution.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing as tr  # noqa: E402


def _span(tracer: tr.Tracer, name: str, start: float, end: float, parent=None) -> int:
    tracer.spans.append(tr.Span(name, start, end, parent))
    return len(tracer.spans) - 1


def test_self_time_subtracts_union_of_children():
    t = tr.Tracer()
    root = _span(t, "driver.run", 0.0, 10.0)
    _span(t, "sinks.write.a", 1.0, 3.0, root)
    _span(t, "sinks.write.b", 2.0, 4.0, root)  # overlaps a
    _span(t, "sinks.write.c", 9.0, 12.0, root)  # runs past the parent
    assert t.self_time(root) == pytest.approx(10.0 - 3.0 - 1.0)
    assert t.total("sinks.write.") == pytest.approx(7.0)


def test_span_context_nests_on_one_thread():
    t = tr.Tracer()
    with t.span("driver.run"):
        with t.span("sinks.write.x") as inner:
            pass
    assert inner.parent == 0 and t.spans[0].parent is None
    assert t.spans[0].end >= inner.end >= inner.start >= t.spans[0].start


def test_read_progress_keeps_batches_that_ran():
    progress = [
        {"batchId": 0, "numInputRows": 10, "timestamp": "2026-01-01T00:00:00.500Z",
         "durationMs": {"addBatch": 900, "latestOffset": 5, "getBatch": 2,
                        "walCommit": 7, "commitOffsets": 3, "triggerExecution": 950},
         "stateOperators": [{"numRowsTotal": 4, "numRowsUpdated": 4,
                             "memoryUsedBytes": 100, "allUpdatesTimeMs": 50}]},
        {"batchId": 1, "numInputRows": 0, "timestamp": "2026-01-01T00:00:10.000Z",
         "durationMs": {"latestOffset": 1, "triggerExecution": 1}, "stateOperators": []},
    ]
    (b,) = tr.read_progress(progress)
    assert b["batch_id"] == 0 and b["rows"] == 10
    assert b["list_ms"] == 7 and b["commit_ms"] == 10 and b["trigger_ms"] == 950
    assert b["start"] == pytest.approx(1767225600.5)
    assert b["state"] == [{"rows_total": 4, "rows_updated": 4, "bytes": 100, "update_ms": 50}]


def test_event_log_parse_and_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1_000},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1_500}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Submission Time": 5_500}},
    ]
    for stage, dur, sw in ((0, 100, 10), (0, 300, 20), (1, 50, 0), (1, 50, 0)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 2_000, "Finish Time": 2_000 + dur},
            "Task Metrics": {"Executor Run Time": dur, "JVM GC Time": 1,
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": sw}},
        })
    path = tmp_path / "local-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = tr.parse_event_log(str(path))
    assert log.job_submits == [1.0]
    s0 = log.stages[0]
    assert s0.submit == 1.5 and s0.run_ms == 400 and s0.shuffle_write == 30 and s0.spill == 10

    t = tr.Tracer()
    outer = _span(t, "driver.run", 1.0, 10.0)
    _span(t, "sinks.write.a", 1.2, 2.0, outer)
    by_layer = tr.attribute_stages(log, t, ["sinks", "driver"])
    assert [s.stage_id for s in by_layer["sinks"]] == [0]
    assert [s.stage_id for s in by_layer["driver"]] == [1]

    m = tr.spark_metrics([s0], wall_s=0.2, cores=4)
    assert m["task_skew_max"] == pytest.approx(300 / 200)
    assert m["core_busy_share"] == pytest.approx(0.4 / (0.2 * 4))
    assert m["gc_s"] == pytest.approx(0.002)


def test_percentile_interpolates():
    assert tr.percentile([], 0.5) == 0.0
    assert tr.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert tr.percentile([0.0, 10.0], 0.9) == pytest.approx(9.0)
