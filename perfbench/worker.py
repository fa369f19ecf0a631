"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with the run's environment (``PYTHONPATH``,
``SPARK_GRAFT_CPUS``, ``SPARK_LOCAL_DIRS``, ``TMPDIR``) and a fresh work
directory. It calls the package only through public functions, checks the
outputs, and writes one JSON result (``correct``, ``attempted``,
``failed``, ``metrics``) to ``--out``.

Untraced runs measure the end-to-end metrics. Traced runs keep the Spark
event log on from the start, repeat the untraced measurement, then measure
the per-layer metrics in the same session: spans around public calls, a
span per sink write, streaming progress and event-log stage metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen
import oracle
import tracing as tr

HERE = os.path.dirname(os.path.abspath(__file__))
GEN = os.path.join(HERE, "gen.py")

#: replay input: the first quarter of the generated log, so that a warm-up
#: pass and several timed passes fit the benchmark's time budget
REPLAY_EVENTS = gen.N_EVENTS // 4
#: nominal seconds of one timed replay pass and of one measured stateful
#: batch on a 4-vCPU host. ``--seconds`` buys as many of them as fit, so a
#: slower build times the same work rather than fewer samples.
REPLAY_PASS_S = 10.0
STATEFUL_BATCH_S = 16.0

#: the 9 analyses besides the session rollup, by output table
ANALYSES = tuple(t for t in oracle.TABLES if t != "sessions")
SINK_TABLES = oracle.TABLES + ("quarantine",)
SPARK_KEYS = ("shuffle_write_bytes", "spill_bytes", "gc_s", "task_skew_max", "core_busy_share")
SPARK_UNITS = {
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_s": "s",
    "task_skew_max": "ratio",
    "core_busy_share": "share",
}
ATTRIBUTED_LAYERS = ("sources", "cleanse", "sessionize", "analytics", "sinks", "stateful")

#: the end-to-end metrics every workload reports
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit; a traced run reports all
    of them, 0 where its workload does not run the layer."""
    u = {
        "session.get_spark_s": "s",
        "session.peak_rss_mb": "MB",
        "sources.read_csv_s": "s",
        "sources.rows_read": "count",
        "sources.list_ms_p50": "ms",
        "cleanse.cleanse_s": "s",
        "cleanse.rows_valid": "count",
        "cleanse.rows_quarantined": "count",
        "sessionize.sessionize_s": "s",
        "sessionize.session_metrics_s": "s",
        "sessionize.sessions_out": "count",
    }
    u.update({f"analytics.{a}_s": "s" for a in ANALYSES})
    u["analytics.rows_out"] = "count"
    u.update(
        {
            "driver.run_s": "s",
            "driver.self_s": "s",
            "driver.jobs_per_batch": "count",
            "driver.add_batch_ms_p50": "ms",
            "driver.commit_ms_p50": "ms",
        }
    )
    u.update({f"sinks.write_s.{t}": "s" for t in SINK_TABLES})
    u.update(
        {
            "sinks.write_share": "share",
            "sinks.files_written": "count",
            "sinks.bytes_written": "bytes",
            "sinks.rows_written": "count",
            "stateful.update_ms_p50": "ms",
            "stateful.state_rows_max": "count",
            "stateful.state_bytes_max": "bytes",
            "stateful.keys_updated_p50": "count",
            "stateful.sessions_emitted": "count",
            "stateful.flush_s": "s",
        }
    )
    u.update({f"spark.{k}": SPARK_UNITS[k] for k in SPARK_KEYS})
    for layer in ATTRIBUTED_LAYERS:
        u.update({f"spark.{k}.{layer}": SPARK_UNITS[k] for k in SPARK_KEYS})
    u.update(
        {
            "baseline.local1_events_per_s": "1/s",
            "trace.overhead_share": "share",
        }
    )
    return u


class Run:
    def __init__(self, a: argparse.Namespace):
        self.workload = a.workload
        self.seed = a.seed
        self.seconds = a.seconds
        self.trace = a.trace
        self.work = a.work
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
        self.spark = None
        #: ``get_spark`` time of the run's first (cold) session
        self.get_spark_s: float | None = None
        os.makedirs(self.path("eventlog"), exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def gen(self, *argv: str) -> None:
        subprocess.run([sys.executable, GEN, *argv, "--seed", str(self.seed)],
                       check=True, timeout=120)

    def session(self, *, eventlog: bool = False, master: str | None = None,
                shuffle_partitions: int | None = None, extra: dict | None = None) -> float:
        """(Re)start the Spark session and run a probe job; returns the
        seconds until the probe finished."""
        from clickestream_project_bigdata_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={self.path('derby')} "
                f"-Djava.io.tmpdir={self.path('tmp')}"
            ),
            "spark.eventLog.enabled": "true" if eventlog else "false",
            "spark.eventLog.dir": "file://" + self.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        conf.update(extra or {})
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}", master=master,
            shuffle_partitions=shuffle_partitions, extra_conf=conf,
        )
        if self.get_spark_s is None:
            self.get_spark_s = time.perf_counter() - t0
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        """Highest VmHWM of the driver JVM and this Python process."""
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return max(_vm_hwm_kb(jvm_pid), _vm_hwm_kb(os.getpid())) / 1024.0


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line with the seconds since the worker started."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _count(seconds: int, nominal_s: float) -> int:
    """How many timed units of ``nominal_s`` seconds fit in ``seconds``."""
    return max(1, int(seconds // nominal_s))


def _head_csv(src: str, dst: str, rows: int) -> str:
    """The header and first ``rows`` rows of a CSV file."""
    with open(src) as fin, open(dst, "w") as fout:
        for i, line in enumerate(fin):
            if i > rows:
                break
            fout.write(line)
    return dst


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _tree_stats(path: str, suffix: str = "") -> tuple[int, int]:
    files = bytes_ = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                files += 1
                bytes_ += os.path.getsize(os.path.join(d, n))
    return files, bytes_


def _parquet_rows(path: str) -> dict[str, int]:
    """Rows per table under a ``ParquetSink`` base directory."""
    import pyarrow.parquet as pq

    rows: dict[str, int] = {}
    for table in sorted(os.listdir(path)):
        n = 0
        for d, _, names in os.walk(os.path.join(path, table)):
            for f in names:
                if f.endswith(".parquet"):
                    n += pq.read_metadata(os.path.join(d, f)).num_rows
        rows[table] = n
    return rows


# ---------------------------------------------------------------------------
# traced helpers shared by the workloads
# ---------------------------------------------------------------------------


def _noop(df) -> None:
    from clickestream_project_bigdata_spark.streaming.sinks import NoopSink

    NoopSink().write(df, "noop")


def decompose(tracer: tr.Tracer, canonical) -> dict[str, float]:
    """Per-layer spans over one canonical batch: sessionize (materialized),
    the session rollup and the 9 other analyses, each run to completion
    through the package's ``NoopSink``."""
    from clickestream_project_bigdata_spark.operators import analytics
    from clickestream_project_bigdata_spark.operators.sessionize import (
        session_metrics,
        sessionize,
    )

    m: dict[str, float] = {}
    with tracer.span("sessionize.sessionize") as s:
        sess = sessionize(canonical).persist()
        sess.count()
    m["sessionize.sessionize_s"] = s.duration
    with tracer.span("sessionize.session_metrics") as s:
        _noop(session_metrics(sess))
    m["sessionize.session_metrics_s"] = s.duration
    plans = {
        "events_per_minute": lambda: analytics.events_per_minute(canonical),
        "active_users": lambda: analytics.active_users(canonical),
        "event_type_distribution": lambda: analytics.event_type_distribution(canonical),
        "top_items": lambda: analytics.top_items(canonical),
        "bounce_rate": lambda: analytics.bounce_rate(canonical),
        "user_paths": lambda: analytics.user_paths(sess),
        "funnel_analysis": lambda: analytics.funnel_analysis(sess),
        "item_interactions": lambda: analytics.item_interactions(canonical),
        "most_viewed_items": lambda: analytics.most_viewed_items(canonical),
    }
    for name, plan in plans.items():
        with tracer.span(f"analytics.{name}") as s:
            _noop(plan())
        m[f"analytics.{name}_s"] = s.duration
    sess.unpersist()
    return m


def sink_spans(tracer: tr.Tracer) -> dict[str, float]:
    return {f"sinks.write_s.{t}": tracer.total(f"sinks.write.{t}") for t in SINK_TABLES}


def stream_driver_metrics(prog: list, tracer: tr.Tracer, inner: float) -> dict[str, float]:
    """Driver and sink metrics of a streaming query from its progress: the
    run is the sum of ``addBatch`` (the ``foreachBatch`` calls), its self
    time excludes the sink writes and ``inner`` other spans inside it."""
    run_s = sum(p["add_batch_ms"] for p in prog) / 1000.0
    writes = tracer.total("sinks.write.")
    m = {
        "sources.list_ms_p50": tr.percentile([p["list_ms"] for p in prog], 0.5),
        "driver.add_batch_ms_p50": tr.percentile([p["add_batch_ms"] for p in prog], 0.5),
        "driver.commit_ms_p50": tr.percentile([p["commit_ms"] for p in prog], 0.5),
        "driver.run_s": run_s,
        "driver.self_s": run_s - writes - inner,
        "sinks.write_share": writes / run_s if run_s else 0.0,
    }
    m.update(sink_spans(tracer))
    return m


def batch_windows(prog: list) -> list[tuple[float, float]]:
    return [(p["start"], p["start"] + p["trigger_ms"] / 1000.0) for p in prog]


def spark_layer_metrics(
    run: Run, tracer: tr.Tracer, window: tuple[float, float], batches: list[tuple[float, float]]
) -> dict[str, float]:
    """``spark.*`` over the measured window and per attributed layer, and
    the Spark jobs submitted per batch window, from the event log of the
    (stopped) traced session."""
    log = tr.parse_event_log(tr.newest_event_log(run.path("eventlog")))
    t0, t1 = window
    inside = [s for s in log.stages.values() if t0 <= s.submit <= t1]
    m = {f"spark.{k}": v for k, v in tr.spark_metrics(inside, t1 - t0, run.cores).items()}
    by_layer = tr.attribute_stages(log, tracer, list(ATTRIBUTED_LAYERS))
    for layer, stages in by_layer.items():
        wall = sum(s.duration for s in tracer.spans if s.layer == layer)
        for k, v in tr.spark_metrics(stages, wall, run.cores).items():
            m[f"spark.{k}.{layer}"] = v
    jobs = sum(1 for t in log.job_submits for a, b in batches if a <= t <= b)
    m["driver.jobs_per_batch"] = jobs / len(batches) if batches else 0.0
    return m


# ---------------------------------------------------------------------------
# replay_full
# ---------------------------------------------------------------------------


def replay_full(run: Run) -> dict:
    from clickestream_project_bigdata_spark.sources.readers import read_raw_events_csv
    from clickestream_project_bigdata_spark.streaming.driver import run_pipeline
    from clickestream_project_bigdata_spark.streaming.sinks import ParquetSink

    csv = run.path("events.csv")
    run.gen("csv", "--out", csv, "--events", str(REPLAY_EVENTS))
    n_events = REPLAY_EVENTS
    warm_csv = _head_csv(csv, run.path("warm.csv"), REPLAY_EVENTS // 8)

    log("inputs written")
    # a traced run keeps the event log on throughout, so its untraced and
    # traced passes share one session
    setup_s = run.session(eventlog=bool(run.trace))
    log(f"session ready in {setup_s:.2f} s")
    spark = run.spark
    # two passes over an eighth of the input compile the hot code; the
    # timed passes after them are what a long-running driver sees (after a
    # single warm-up pass, even a full-size one, the next pass still ran
    # ~25 % slow)
    for _ in range(2):
        run_pipeline(read_raw_events_csv(spark, warm_csv), 0,
                     ParquetSink(_fresh(run.path("warm_out"))))
    shutil.rmtree(run.path("warm_out"), ignore_errors=True)
    log("warm-up done")

    passes, outs = [], []
    for i in range(_count(run.seconds, REPLAY_PASS_S)):
        out = _fresh(run.path(f"out{i}"))
        t0 = time.perf_counter()
        run_pipeline(read_raw_events_csv(spark, csv), 0, ParquetSink(out))
        passes.append(time.perf_counter() - t0)
        outs.append(out)
    log(f"timed passes: {['%.2f' % p for p in passes]}")
    rss = run.peak_rss_mb()
    eps = n_events / statistics.median(passes)

    layer: dict[str, float] = {}
    if run.trace:
        layer = _replay_traced(run, csv, n_events, eps)
    run.stop()

    ref = oracle.replay_reference(csv)
    failed = 0
    for out in outs:
        got = oracle.parquet_output(out)
        if got != ref:
            bad = sorted(t for t in ref if got.get(t) != ref[t])
            print(f"replay_full: output mismatch in {bad}", file=sys.stderr)
            failed += 1
        shutil.rmtree(out, ignore_errors=True)
    return {
        "attempted": len(passes),
        "failed": failed,
        "e2e": {"setup_s": setup_s, "events_per_s": eps},
        "layer": dict(layer, **{"session.peak_rss_mb": rss}),
    }


def _replay_traced(run: Run, csv: str, n_events: int, untraced_eps: float) -> dict:
    from clickestream_project_bigdata_spark.operators.cleanse import (
        canonicalize,
        cleanse_raw_events,
    )
    from clickestream_project_bigdata_spark.sources.readers import read_raw_events_csv
    from clickestream_project_bigdata_spark.streaming.driver import run_pipeline
    from clickestream_project_bigdata_spark.streaming.sinks import ParquetSink

    m: dict[str, float] = {"session.get_spark_s": run.get_spark_s}
    spark = run.spark
    tracer = tr.Tracer()
    out = _fresh(run.path("out_traced"))
    with tracer.span("driver.run") as run_span:
        run_pipeline(read_raw_events_csv(spark, csv), 0, tr.SpanSink(ParquetSink(out), tracer))
    run_idx = tracer.find("driver.run")[0]
    traced_eps = n_events / run_span.duration
    m["driver.run_s"] = run_span.duration
    m["driver.self_s"] = tracer.self_time(run_idx)
    m.update(sink_spans(tracer))
    writes = tracer.total("sinks.write.")
    m["sinks.write_share"] = writes / run_span.duration
    files, bytes_ = _tree_stats(out, ".parquet")
    rows = _parquet_rows(out)
    m["sinks.files_written"] = files
    m["sinks.bytes_written"] = bytes_
    m["sinks.rows_written"] = sum(rows.values())
    m["analytics.rows_out"] = sum(rows.get(t, 0) for t in ANALYSES)
    m["sessionize.sessions_out"] = rows.get("sessions", 0)
    shutil.rmtree(out, ignore_errors=True)

    # layer decomposition over the same input
    with tracer.span("sources.read_csv") as s:
        raw = read_raw_events_csv(spark, csv).persist()
        m["sources.rows_read"] = raw.count()
    m["sources.read_csv_s"] = s.duration
    with tracer.span("cleanse.cleanse") as s:
        res = cleanse_raw_events(raw)
        valid = canonicalize(res.valid).persist()
        m["cleanse.rows_valid"] = valid.count()
        m["cleanse.rows_quarantined"] = res.quarantine.count()
    m["cleanse.cleanse_s"] = s.duration
    m.update(decompose(tracer, valid))
    valid.unpersist()
    raw.unpersist()
    window = (run_span.start, run_span.end)
    run.stop()
    m.update(spark_layer_metrics(run, tracer, window, [window]))

    # single-core baseline: the same pass on local[1]
    run.session(master="local[1]", shuffle_partitions=1,
                extra={"spark.sql.files.minPartitionNum": "1"})
    t0 = time.perf_counter()
    run_pipeline(read_raw_events_csv(run.spark, csv), 0,
                 ParquetSink(_fresh(run.path("out_local1"))))
    m["baseline.local1_events_per_s"] = n_events / (time.perf_counter() - t0)
    m["trace.overhead_share"] = 1.0 - traced_eps / untraced_eps
    return m


# ---------------------------------------------------------------------------
# stateful_sessions
# ---------------------------------------------------------------------------


def _drain(run: Run, chunks: str, tag: str, tracer: tr.Tracer | None) -> tuple[list, str]:
    """One closed-loop drain of every chunk into a fresh ``ParquetSink``;
    returns (progress, output dir)."""
    from clickestream_project_bigdata_spark.sources.readers import events_stream_from_chunks
    from clickestream_project_bigdata_spark.streaming.driver import start_stateful_sessions
    from clickestream_project_bigdata_spark.streaming.sinks import ParquetSink

    out = _fresh(run.path(f"sessions_{tag}"))
    sink = ParquetSink(out)
    if tracer is not None:
        # the closed sessions of a batch are computed by the write that
        # consumes them; materialize them first to split the two spans
        sink = tr.SpanSink(sink, tracer, materialize="stateful.sessionize")
    q = start_stateful_sessions(
        events_stream_from_chunks(run.spark, chunks, max_files=1), sink,
        _fresh(run.path(f"ck_{tag}")), available_now=True,
    )
    q.awaitTermination()
    return tr.read_progress(q.recentProgress), out


def _chunk_batches(prog: list) -> list:
    """The batches that each read one full chunk, after a drain's first one:
    the first starts the Python workers and fills an empty state store. The
    sentinel batch and the batches that flush timed-out sessions after it
    are left out."""
    full = [p for p in prog if p["rows"] == gen.CHUNK_EVENTS]
    return full[1:]


def _flush_s(prog: list) -> float:
    """Trigger time of the batches after the last full chunk: the sentinel
    batch and the timeouts that close every open session."""
    last = max(p["batch_id"] for p in prog if p["rows"] == gen.CHUNK_EVENTS)
    return sum(p["trigger_ms"] for p in prog if p["batch_id"] > last) / 1000.0


def _rate(batches: list) -> float:
    """Input rows per second of trigger time over ``batches``."""
    return sum(p["rows"] for p in batches) / sum(p["trigger_ms"] / 1000.0 for p in batches)


def stateful_sessions(run: Run) -> dict:
    chunks = run.path("chunks")
    # one warm-up chunk, then the measured chunks
    n_events = (1 + _count(run.seconds, STATEFUL_BATCH_S)) * gen.CHUNK_EVENTS
    run.gen("chunks", "--out", chunks, "--events", str(n_events))
    log("inputs written")
    setup_s = run.session(eventlog=bool(run.trace))
    log(f"session ready in {setup_s:.2f} s")

    prog, out = _drain(run, chunks, "untraced", None)
    log("batches (id, rows, s): "
        + " ".join(f"({p['batch_id']}, {p['rows']}, {p['trigger_ms'] / 1000:.2f})" for p in prog))
    rss = run.peak_rss_mb()
    measured = _chunk_batches(prog)
    eps = _rate(measured)

    layer: dict[str, float] = {}
    if run.trace:
        layer = _stateful_traced(run, chunks, eps)
    run.stop()

    ref = oracle.stateful_reference(os.path.join(chunks, "*.parquet"), gen.SENTINEL_VISITOR)
    # an operation is a measured batch; the drain's output is checked whole
    failed = 0
    if oracle.stateful_output(out) != ref:
        print("stateful_sessions: sessions differ from the reference", file=sys.stderr)
        failed = len(measured)
    return {
        "attempted": len(measured),
        "failed": failed,
        "e2e": {"setup_s": setup_s, "events_per_s": eps},
        "layer": dict(layer, **{"session.peak_rss_mb": rss}),
    }


def _stateful_traced(run: Run, chunks: str, untraced_eps: float) -> dict:
    m: dict[str, float] = {"session.get_spark_s": run.get_spark_s}
    tracer = tr.Tracer()
    with tracer.span("driver.drain") as span:
        prog, out = _drain(run, chunks, "traced", tracer)
    m["trace.overhead_share"] = 1.0 - _rate(_chunk_batches(prog)) / untraced_eps
    m["stateful.flush_s"] = _flush_s(prog)
    states = [p["state"][0] for p in prog if p["state"]]
    m["stateful.update_ms_p50"] = tr.percentile([s["update_ms"] for s in states], 0.5)
    m["stateful.state_rows_max"] = max((s["rows_total"] for s in states), default=0)
    m["stateful.state_bytes_max"] = max((s["bytes"] for s in states), default=0)
    m["stateful.keys_updated_p50"] = tr.percentile(
        [p["state"][0]["rows_updated"] for p in prog if p["state"] and p["rows"] > 0], 0.5
    )
    m.update(stream_driver_metrics(prog, tracer, tracer.total("stateful.sessionize")))
    files, bytes_ = _tree_stats(out, ".parquet")
    rows = sum(_parquet_rows(out).values())
    m["sinks.files_written"] = files
    m["sinks.bytes_written"] = bytes_
    m["sinks.rows_written"] = rows
    m["stateful.sessions_emitted"] = rows
    run.stop()
    m.update(spark_layer_metrics(run, tracer, (span.start, span.end), batch_windows(prog)))
    return m


WORKLOADS = {
    "replay_full": replay_full,
    "stateful_sessions": stateful_sessions,
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    run = Run(a)
    r = WORKLOADS[a.workload](run)
    log("checked")
    attempted, failed = r["attempted"], r["failed"]
    if a.trace:
        units = per_layer_units()
        layer = {k: float(r["layer"].get(k, 0.0)) for k in units}
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": float(r["e2e"][k]), "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    with open(a.out + ".tmp", "w") as fh:
        json.dump(result, fh)
    os.replace(a.out + ".tmp", a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
