"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the `noop` sink — full distributed compute,
no driver-side collect bottleneck (mirrors writing to a real sink).

Self-defending harness (round-3 lesson: a single-shot run recorded a 7x
phantom regression from box contention and nobody could tell from the
artifact alone; round-9 lesson: first-rep JVM/JIT noise on sub-second
queries drove a 1.11x -> 1.43x phantom ratio drift):

* every query runs $SPARK_GRAFT_BENCH_REPS times (default 4); with >= 2
  reps the FIRST rep is a WARM-UP and is excluded from the stats —
  ``queries`` reports the per-query MEDIAN of the post-warm reps,
  ``spread`` the min/max over ALL reps (the warm-up stays visible there,
  so a pathological cold rep is still on the record);
* 1-minute load average is recorded at start and end (``loadavg``) — a
  loaded box is visible in the artifact, not reconstructed from memory;
* the same query's DuckDB oracle runs on the same parquet and its time is
  co-reported under ``duckdb_queries`` — if the whole Spark column inflates
  while the DuckDB column doesn't (or both inflate together), the artifact
  itself shows whether the box or the code regressed. The control column
  follows the same warm-rep protocol (median of post-warm reps).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from clickestream_project_bigdata_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "sessions",
    "user_paths",
    "funnel_analysis",
    "events_per_minute",
    "active_users",
    "event_type_distribution",
    "bounce_rate",
    "top_items",
    "item_interactions",
    "most_viewed_items",
]

TABLES = ["events"]


def _recode_fixture(sf_dir: str, target_splits: int = 32) -> str:
    """Untimed storage-layout normalization: rewrite each fixture table as
    the SAME rows in a multi-row-group parquet file, so the file is
    splittable into ~``target_splits`` scan tasks.

    Why: the driver-generated fixtures are single-row-group files — a
    format-level property that caps BOTH engines' scan parallelism at one
    thread per table regardless of configuration (parquet can only be
    split on row-group boundaries). Real 100 TB inputs are thousands of
    files × many row groups; a one-row-group fixture file is a fixture
    artifact, not a workload property, and timing against it measures
    the artifact (one core does every map stage while 31 idle). Both the
    Spark queries AND the DuckDB control read the identical recoded
    files, so the comparison stays symmetric — DuckDB also parallelizes
    per row group and also benefits. Data is
    byte-identical row-for-row in the original order; only the row-group
    framing changes. OPT-IN via SPARK_GRAFT_BENCH_RECODE=1 — the headline
    artifact stays on the raw layout for comparability with BASELINE.md
    and earlier rounds (see SCALING.md round 7 for the layout-normalized
    study and why the sum ratio is not layout-invariant)."""
    import pyarrow.parquet as pq

    out_dir = os.path.join(
        "/tmp", "bench_rg", os.path.basename(os.path.normpath(sf_dir))
    )
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        dst = os.path.join(out_dir, f"{t}.parquet")
        f = pq.ParquetFile(src)
        if os.path.exists(dst) and os.path.getmtime(dst) >= os.path.getmtime(src):
            continue
        rows = f.metadata.num_rows
        per_group = max(1024, (rows + target_splits - 1) // max(target_splits, 1))
        pq.write_table(f.read(), dst, row_group_size=per_group)
    return out_dir


def _time_duckdb(
    sf_dir: str, names: list[str], reps: int = 2
) -> dict[str, float]:
    """Timed DuckDB runs per oracle query on the same parquet files — the
    co-reported control column. Same warm-rep protocol as the Spark side:
    with >= 2 reps the first is a warm-up and the MEDIAN of the rest is
    reported."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = entrymod.oracle_sql()
    samples: dict[str, list[float]] = {}
    for _ in range(max(1, reps)):
        for name in names:
            sql = oracles.get(name)
            if sql is None:
                continue
            t0 = time.time()
            con.execute(sql).fetchall()
            samples.setdefault(name, []).append(time.time() - t0)
    return {
        n: round(statistics.median(ts[1:] if len(ts) >= 2 else ts), 3)
        for n, ts in samples.items()
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    except ValueError:  # non-sfN dir name (e.g. a derived scale-up dataset)
        sf = float(os.environ.get("SPARK_GRAFT_SF", "-1"))
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "4")))
    load_start = os.getloadavg()[0]
    # Default OFF for the headline artifact: rounds 1-6 and BASELINE.md were
    # measured on the raw driver layout, and flipping the input framing
    # mid-series would break the longitudinal record. Scale studies
    # (SCALING.md round 7) opt in with SPARK_GRAFT_BENCH_RECODE=1.
    if os.environ.get("SPARK_GRAFT_BENCH_RECODE", "0") == "1":
        sf_dir = _recode_fixture(sf_dir)  # untimed; see _recode_fixture
    spark = get_spark("bench")

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + sorted(n for n in qs if n not in HEADLINE)

    # Optional subset (comma-separated) for targeted/scale runs; the replay
    # pass runs unless a subset is given that excludes it.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    run_replay = True
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        names = [n for n in names if n in keep]
        run_replay = "replay_all_10_analyses" in keep

    # Untimed JIT/reader warmup: touch the parquet reader, codegen, and the
    # noop sink once so the first timed query isn't charged JVM startup.
    from clickestream_project_bigdata_spark.sources.readers import events_from_fixture

    events_from_fixture(spark, sf_dir).limit(1000).groupBy("event").count().write.format(
        "noop"
    ).mode("overwrite").save()

    samples: dict[str, list[float]] = {n: [] for n in names}
    if run_replay:
        samples["replay_all_10_analyses"] = []

    from clickestream_project_bigdata_spark.streaming import NoopSink
    from clickestream_project_bigdata_spark.streaming.driver import run_all_analyses

    for _ in range(reps):
        for name in names:
            # plan construction INSIDE the timed region: iterative operators
            # (connected components) run driver-side
            # actions while building their result frame, and timing only the
            # final write would under-report them.
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)

        # Full replay: all 10 reference analyses over the whole events table
        # as one batch through the foreachBatch driver (BASELINE.md throughput
        # goal: minutes, not the reference's throttled ~76 h).
        if run_replay:
            events = events_from_fixture(spark, sf_dir)
            t0 = time.time()
            run_all_analyses(
                events, 0, NoopSink(), funnel_steps=["view", "click", "purchase"]
            )
            samples["replay_all_10_analyses"].append(time.time() - t0)

    # warm-rep protocol: rep 1 is a JVM/JIT warm-up, excluded from the
    # reported stats (kept in `spread` so it stays on the record)
    timings = {
        n: round(statistics.median(ts[1:] if len(ts) >= 2 else ts), 3)
        for n, ts in samples.items()
    }
    spread = {
        n: {"min": round(min(ts), 3), "max": round(max(ts), 3)}
        for n, ts in samples.items()
    }

    # SPARK_GRAFT_BENCH_DUCKDB=0 skips the control column — for scale runs
    # where an oracle with a quadratic term (the exact ngram join) would
    # dominate wall-clock; time those separately with per-query budgets.
    if os.environ.get("SPARK_GRAFT_BENCH_DUCKDB", "1") != "0":
        duck = _time_duckdb(sf_dir, names)
    else:
        duck = {}

    # Opt-in core-scaling probe (VERDICT r15 #2): re-run a few genuinely
    # heavy entries in a SUBPROCESS at a lower core count and report the
    # low/high ratio, so the artifact itself shows whether the bench honors
    # $SPARK_GRAFT_CPUS (the sub-second sf0.1 headline entries are
    # scheduling-floor bound and can't show it). SPARK_GRAFT_BENCH_SCALING
    # = "1" (low=8) or an explicit low core count; meant to be run against
    # a fixture heavy enough that cores bind (e.g. the 100x recode).
    scaling = None
    scaling_env = os.environ.get("SPARK_GRAFT_BENCH_SCALING")
    if scaling_env:
        import subprocess
        import tempfile

        low_cpus = 8 if scaling_env == "1" else max(1, int(scaling_env))
        high_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        probe_default = "item_lift"
        probes = [
            p.strip()
            for p in os.environ.get(
                "SPARK_GRAFT_BENCH_SCALING_QUERIES", probe_default
            ).split(",")
            if p.strip() in timings
        ]

        def _probe_one(name: str, cpus: int) -> float | None:
            """One probe query at one core count in its OWN subprocess —
            fresh JVM, query-isolated. Rep-major co-tenancy in a shared
            JVM distorts light queries next to allocation-heavy ones
            (measured: char_entropy, since deleted, 10.5 s sharing a
            32-thread JVM with an allocation-heavy sketch query vs 2.0 s
            isolated), so the
            scaling ratio is taken from symmetric isolated runs; the
            co-tenant bench timing stays in `queries` as `bench_sec`."""
            fd, child_detail = tempfile.mkstemp(prefix="bench_scaling_", suffix=".json")
            os.close(fd)
            env = dict(os.environ)
            env.update(
                {
                    "SPARK_GRAFT_CPUS": str(cpus),
                    "SPARK_GRAFT_BENCH_ONLY": name,
                    "SPARK_GRAFT_BENCH_DUCKDB": "0",
                    "SPARK_GRAFT_BENCH_DETAIL": child_detail,
                    "SPARK_GRAFT_BENCH_REPS": str(max(3, reps)),
                }
            )
            env.pop("SPARK_GRAFT_BENCH_SCALING", None)  # no recursion
            try:
                for attempt in range(2):  # one retry on a crashed child
                    p = subprocess.run(
                        [sys.executable, os.path.abspath(__file__)],
                        capture_output=True,
                        text=True,
                        env=env,
                    )
                    if p.returncode == 0 and os.path.getsize(child_detail):
                        with open(child_detail) as fh:
                            return json.load(fh).get("queries", {}).get(name)
            finally:
                os.unlink(child_detail)
            return {"error": (p.stderr or p.stdout)[-200:], "rc": p.returncode}

        sq = {}
        for n in probes:
            hi, lo = _probe_one(n, high_cpus), _probe_one(n, low_cpus)
            err = {}
            if isinstance(hi, dict):
                err["high_error"], hi = hi, None
            if isinstance(lo, dict):
                err["low_error"], lo = lo, None
            sq[n] = {
                "bench_sec": timings[n],
                "high_sec": hi,
                "low_sec": lo,
                "low_over_high": round(lo / hi, 3) if lo and hi else None,
                **err,
            }
        scaling = {
            "low_cpus": low_cpus,
            "high_cpus": high_cpus,
            "protocol": "per-probe isolated subprocess pairs (fresh JVM per core count)",
            "queries": sq,
        }

    total = round(sum(timings.values()), 3)
    # The driver captures only the LAST ~2000 chars of stdout (BENCH_r04
    # recorded "parsed": null when spread+duckdb_queries pushed the line past
    # the buffer; BENCH_r06's 155-query line was head-truncated, hiding the
    # totals). Keep stdout to ONE line guaranteed to fit the tail window:
    # totals + the headline queries only. The full per-query map, per-rep
    # spread, and the DuckDB control column go to BENCH_LAST.json — an
    # UNCOMMITTED scratch record (gitignored). The committed record is
    # BENCH_DETAIL.json, promoted DELIBERATELY (`cp BENCH_LAST.json
    # BENCH_DETAIL.json`) after a run taken under known-idle conditions —
    # so a driver/co-run invocation can never overwrite the committed
    # record in place (VERDICT r12 what's-wrong #2: two consecutive rounds
    # of the working-tree record diverging from HEAD at judging time).
    detail = {
        "reps": reps,
        "protocol": (
            "median of post-warm reps (rep 1 excluded when reps >= 2), "
            "both engines; spread covers all reps incl. warm-up"
        ),
        "loadavg": {
            "start": round(load_start, 2),
            "end": round(os.getloadavg()[0], 2),
        },
        "queries": timings,
        "spread": spread,
        "duckdb_queries": duck,
        "duckdb_total": round(sum(duck.values()), 3),
    }
    if scaling is not None:
        detail["scaling"] = scaling
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL", os.path.join(REPO, "BENCH_LAST.json")
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    headline_times = {
        n: timings[n]
        for n in HEADLINE + ["replay_all_10_analyses"]
        if n in timings
    }
    line = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": headline_times,
        "n_queries": len(timings),
        "sf": sf,
        # effective parallelism on the record (VERDICT r15 #2: the driver
        # could not verify $SPARK_GRAFT_CPUS was honored from the artifact
        # alone) — read back from the LIVE session, not the env var
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "duckdb_total": detail["duckdb_total"],
        "protocol": "warmrep-median",
        "loadavg": detail["loadavg"],
        "full_record": "BENCH_LAST.json",
    }
    if scaling is not None:
        line["scaling"] = scaling
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
