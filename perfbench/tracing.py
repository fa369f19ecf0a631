"""Tracing from outside the package: spans around public calls, a delegating
sink that records one span per (table, batch), a reader for
``StreamingQuery.recentProgress`` and a parser for the Spark event log.

All times are wall-clock epoch seconds (``time.time()``) so spans, progress
timestamps and event-log millisecond stamps share one clock.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Keeps spans in memory; the parent of a span is the innermost span
    open on the same thread when it started."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        s = Span(name, time.time(), parent=stack[-1] if stack else None, attrs=attrs)
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        s = self.spans[idx]
        covered = _union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in self.children(idx)]
        )
        return s.duration - covered

    def total(self, prefix: str) -> float:
        return sum(s.duration for s in self.spans if s.name.startswith(prefix))

    def find(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SpanSink:
    """Delegating ``Sink``: one span ``sinks.write.<table>`` per
    (table, batch_id) around the wrapped sink's write.

    With ``materialize`` set, the frame is first persisted and counted
    inside a span of that name, so the work that produces it (e.g. a
    stateful operator feeding ``foreachBatch``) is timed apart from the
    write; the extra cache shows in the trace overhead."""

    def __init__(self, inner, tracer: Tracer, materialize: str | None = None):
        self.inner = inner
        self.tracer = tracer
        self.materialize = materialize

    def write(self, df, table: str, batch_id: int | None = None) -> None:
        if self.materialize is None:
            with self.tracer.span(f"sinks.write.{table}", batch_id=batch_id, table=table):
                self.inner.write(df, table, batch_id)
            return
        with self.tracer.span(self.materialize, batch_id=batch_id):
            df = df.persist()
            df.count()
        try:
            with self.tracer.span(f"sinks.write.{table}", batch_id=batch_id, table=table):
                self.inner.write(df, table, batch_id)
        finally:
            df.unpersist()


# ---------------------------------------------------------------------------
# StreamingQuery progress
# ---------------------------------------------------------------------------


def _iso_to_epoch(ts: str) -> float:
    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def read_progress(progress: list) -> list[dict]:
    """One record per micro-batch that ran (``addBatch`` present), from
    ``StreamingQuery.recentProgress``; idle 'no new data' reports are
    dropped."""
    out = []
    for p in progress:
        d = dict(p["durationMs"] or {})
        if "addBatch" not in d:
            continue
        states = [
            {
                "rows_total": int(o.get("numRowsTotal") or 0),
                "rows_updated": int(o.get("numRowsUpdated") or 0),
                "bytes": int(o.get("memoryUsedBytes") or 0),
                "update_ms": int(o.get("allUpdatesTimeMs") or 0),
            }
            for o in (p["stateOperators"] or [])
        ]
        out.append(
            {
                "batch_id": int(p["batchId"]),
                "rows": int(p["numInputRows"] or 0),
                "start": _iso_to_epoch(p["timestamp"]),
                "trigger_ms": int(d.get("triggerExecution", 0)),
                "add_batch_ms": int(d.get("addBatch", 0)),
                "list_ms": int(d.get("latestOffset", 0)) + int(d.get("getBatch", 0)),
                "commit_ms": int(d.get("walCommit", 0)) + int(d.get("commitOffsets", 0)),
                "state": states,
            }
        )
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Stage:
    stage_id: int
    submit: float = 0.0  # epoch s
    complete: float = 0.0
    task_ms: list = field(default_factory=list)  # task wall durations
    run_ms: int = 0  # executor run time
    gc_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    stages: dict
    job_submits: list  # epoch s


def parse_event_log(path: str) -> EventLog:
    """Stages (submit time, task times, run/GC time, shuffle write, spill)
    and job submit times from an uncompressed JSON-lines event log."""
    stages: dict[int, Stage] = {}
    jobs: list[float] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"] / 1000.0)
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                if info.get("Submission Time"):
                    st.submit = info["Submission Time"] / 1000.0
                if info.get("Completion Time"):
                    st.complete = info["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                ti = ev.get("Task Info") or {}
                tm = ev.get("Task Metrics") or {}
                if ti.get("Finish Time") and ti.get("Launch Time"):
                    st.task_ms.append(ti["Finish Time"] - ti["Launch Time"])
                st.run_ms += int(tm.get("Executor Run Time", 0))
                st.gc_ms += int(tm.get("JVM GC Time", 0))
                st.spill += int(tm.get("Memory Bytes Spilled", 0)) + int(
                    tm.get("Disk Bytes Spilled", 0)
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                st.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
    return EventLog(stages=stages, job_submits=jobs)


def newest_event_log(directory: str) -> str:
    files = [os.path.join(directory, f) for f in os.listdir(directory)]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if not files:
        raise FileNotFoundError(f"no finished event log in {directory}")
    return max(files, key=os.path.getmtime)


def spark_metrics(stages: list[Stage], wall_s: float, cores: int) -> dict[str, float]:
    """Aggregate stage metrics over a window of ``wall_s`` seconds."""
    run_ms = sum(s.run_ms for s in stages)
    skews = [
        max(s.task_ms) / max(statistics.median(s.task_ms), 1.0)
        for s in stages
        if len(s.task_ms) >= 2
    ]
    return {
        "shuffle_write_bytes": float(sum(s.shuffle_write for s in stages)),
        "spill_bytes": float(sum(s.spill for s in stages)),
        "gc_s": sum(s.gc_ms for s in stages) / 1000.0,
        "task_skew_max": max(skews, default=0.0),
        "core_busy_share": run_ms / 1000.0 / (wall_s * cores) if wall_s > 0 else 0.0,
    }


def attribute_stages(log: EventLog, tracer: Tracer, layers: list[str]) -> dict[str, list[Stage]]:
    """Assign each stage to the shortest span open at its submit time whose
    layer is in ``layers`` (the innermost one, also across threads: sink
    writes of a streaming query run on the query's own thread); stages
    outside every such span are dropped."""
    out: dict[str, list[Stage]] = {layer: [] for layer in layers}
    cands = [s for s in tracer.spans if s.layer in out]
    for st in log.stages.values():
        inside = [s for s in cands if s.start <= st.submit <= s.end]
        if inside:
            out[min(inside, key=lambda s: s.duration).layer].append(st)
    return out


def percentile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
