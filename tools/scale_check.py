"""Scale checkpoint runner: the heaviest/structurally-riskiest queries at a
derived Nx fixture, Spark vs a per-query DuckDB control, with straggler
telemetry — the artifact behind SCALING.md's 10x/100x tables.

Differences from bench.py (which produces the longitudinal headline):

* per-query CONTROL TIMEOUT — several oracles have superlinear terms
  (recursive-CTE clustering, the exact n-gram join) that are fine at sf0.1
  and hours at 100x; each control runs in a subprocess with a budget and
  records ``timeout`` instead of stalling the run;
* straggler telemetry — every Spark query runs under a job group and the
  AppStatusStore worst max/median task ratio is recorded (the same metric
  tests/test_skew.py asserts on adversarial fixtures);
* storage-layout normalization is ALWAYS on (both engines read identical
  multi-row-group recodes; a single-row-group 200 MB events.parquet caps
  both engines' scan parallelism at one thread — a fixture artifact, not a
  workload property).

Usage:
  python tools/scale_check.py FIXTURE_DIR OUT_JSON [QUERIES] [REPS] [CTRL_TIMEOUT_S]
  python tools/scale_check.py --worker FIXTURE_DIR OUT_JSON ...   (internal)
  python tools/scale_check.py --control-one RECODED_DIR QUERY    (internal)

The default entrypoint is a SUPERVISOR: the measurement runs in a
``--worker`` subprocess whose JVM is recycled after every
``RECYCLE_AFTER_HEAVY`` heavy queries and restarted after crashes
(resume-by-artifact) — see :func:`supervise`.

QUERIES: comma-separated registry names; default = the 100x checkpoint list.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: the 100x list — VERDICT r8 #1's heaviest/structurally-riskiest set, plus
#: the round-9 distributed-ntile rewrites (#5) and the r8 10x heavies.
DEFAULT_QUERIES = [
    "sessions",
    "user_paths",
    "char_entropy",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "neardup_cluster_sizes",
    "curate_corpus",
    "skipgram_pmi",
    "graph_triangles",
    "item_pagerank",
    # VERDICT r11 #1: with the scaled item domain (1.36M items, heavy-tailed)
    # the whole graph family is measured against a real graph — pagerank on
    # 7.5M edges past the 500k driver-rank cap (fully-distributed tier),
    # communities on a 450k-edge filtered graph past the union-find cap,
    # transitions as the shared edge build
    "item_transitions",
    "item_communities",
    # scale resolution, NOT the sf-series default: 8 planes = 16
    # buckets/band turns quadratic-by-construction once the corpus
    # outgrows buckets*max_bucket_rows (at 200k vectors every bucket
    # breaches the 4096 guard and the whole corpus takes the pair-join
    # fallback — the r9 first 100x run died exactly there, 32/32 Python
    # workers OOM-killed). See _q_knn_join_fine's docstring.
    "similarity_knn_join_fine",
    "position_attribution",
    "customer_value_deciles",
    "rfm_segments",
    # VERDICT r10 #3: the dup-span family's sf0.1 ratios (9.9x/8.1x/3.2x)
    # sit on sub-second controls — prove they are floor-class at 100x the
    # way skipgram_pmi/graph_triangles were, or fix what the run exposes
    "duplicate_spans",
    "cross_source_duplication",
    "mask_duplicate_spans",
    # round-12 additions: the degree diagnostic (single-scan plan over the
    # heavy-tailed graph) and visitor-grain LSH (150k visitor documents)
    "item_degree_profile",
    "similar_visitors",
]

TABLES = ["orders", "events", "documents", "embeddings"]


#: a query whose WARM rep already exceeds this gets one post-warm rep, not
#: the full rep count — tripling a 9-minute query to shave JVM-warmup noise
#: that is <2% of its wall is the wrong trade.
LONG_QUERY_S = 120.0
#: a control whose warm run exceeds this is not re-run inside the budget
LONG_CONTROL_S = 60.0
#: hard cap on DuckDB spill disk per control (VERDICT r12 #4: the
#: cluster-family recursive-CTE controls exhausted >50 GB of /tmp and died
#: with a stack trace pasted into the ratio column; a declared cap turns
#: that into a BOUNDED outcome — ``disk>40GB after Ns`` with a ``<=``
#: lower-bound ratio — the way ``timeout>900s`` already is)
CONTROL_DISK_CAP_GB = 40
#: JVM recycling (VERDICT r14 #2): the r14 run OOM'd its first 8 g JVM on
#: the seventh heavy query — localCheckpoint blocks, broadcast remnants,
#: and codegen classes accumulate in ONE JVM across a multi-hour run, and
#: clearCache+System.gc between reps reclaims most but not all of it. The
#: default mode is now a SUPERVISOR that runs the measurement in a
#: ``--worker`` subprocess and restarts it (resume-by-artifact, which
#: already existed for crash recovery) after every N queries whose warm
#: rep exceeded the heavy threshold — bounding per-JVM accumulation by
#: construction instead of relying on a manual checkpoint/resume.
RECYCLE_AFTER_HEAVY = int(os.environ.get("SCALE_CHECK_RECYCLE_AFTER", "4"))
RECYCLE_HEAVY_S = float(os.environ.get("SCALE_CHECK_RECYCLE_HEAVY_S", "30"))
#: a worker crash that completed zero new queries counts toward this cap;
#: any progress resets it (the r14 manual recovery was exactly one
#: fresh-JVM resume, so bounded automatic retries are the safe default)
MAX_NO_PROGRESS_RESTARTS = 3


def control_one(recoded_dir: str, name: str) -> None:
    """Run ONE oracle SQL on DuckDB over the recoded fixture under the
    warm-rep protocol (same as the Spark side: one warm execution, then
    median of post-warm reps — skipped when the warm run is already long);
    print seconds. Runs in a subprocess so the parent can enforce a
    timeout."""
    import statistics as _st

    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    # declared spill budget: memory stays at DuckDB's default (same engine
    # configuration as every prior round's protocol), but temp-directory
    # growth is capped so a superlinear control dies with a BOUNDED,
    # machine-readable outcome instead of filling /tmp
    tmpdir = "/tmp/duckdb_ctrl_tmp"
    os.makedirs(tmpdir, exist_ok=True)
    con.execute(f"SET temp_directory='{tmpdir}'")
    con.execute(f"SET max_temp_directory_size='{CONTROL_DISK_CAP_GB}GB'")
    for t in TABLES:
        p = os.path.join(recoded_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    sql = entrymod.oracle_sql()[name]

    def run() -> float:
        t0 = time.time()
        con.execute(sql).fetchall()
        return round(time.time() - t0, 3)

    start = time.time()
    try:
        warm = run()
        cold = warm > LONG_CONTROL_S
        post = [warm] if cold else [run(), run()]
    except duckdb.OutOfMemoryException as exc:
        if "max_temp_directory_size" not in str(exc):
            raise
        print(json.dumps({
            "bounded": f"disk>{CONTROL_DISK_CAP_GB}GB",
            "elapsed_sec": round(time.time() - start, 3),
        }))
        return
    print(json.dumps({"sec": round(_st.median(post), 3), "warm_sec": warm,
                      "reps": post, "cold": cold}))


def main(worker: bool = False) -> None:
    fixture = sys.argv[1]
    out_path = sys.argv[2]
    names = (
        [s for s in sys.argv[3].split(",") if s]
        if len(sys.argv) > 3 and sys.argv[3] != "-"
        else DEFAULT_QUERIES
    )
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    ctrl_timeout = int(sys.argv[5]) if len(sys.argv) > 5 else 900

    import bench

    recoded = bench._recode_fixture(fixture)

    import __spark_entry__ as entrymod
    from clickestream_project_bigdata_spark.plans.diagnostics import (
        job_group,
        straggler_report,
    )
    from clickestream_project_bigdata_spark.session import get_spark
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
    )

    spark = get_spark(
        "scale_check",
        extra_conf={
            # a crashed Python worker should leave a traceback, not a shrug
            "spark.python.worker.faulthandler.enabled": "true",
            "spark.sql.execution.pyspark.udf.faulthandler.enabled": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # untimed warmup: parquet reader, codegen, noop sink
    events_from_fixture(spark, recoded).limit(1000).groupBy("event").count().write.format(
        "noop"
    ).mode("overwrite").save()

    # RESUME: a 100x run is ~an hour of Spark followed by ~an hour of
    # controls; a crash that loses every completed timing (the r9 first
    # attempt) is unacceptable. The artifact is checkpointed after every
    # query and every control; a rerun with the same OUT skips whatever
    # already has a timing.
    results: dict[str, dict] = {}
    prior_jvm: dict = {}
    stale_dropped = False
    if os.path.exists(out_path):
        with open(out_path) as fh:
            prior_all = json.load(fh)
        prior = prior_all.get("queries", {})
        # carry the JVM-hygiene history forward: a targeted extension run
        # re-writing the final artifact must not erase how many recycles /
        # crash restarts produced the timings it keeps (supervise() adds
        # its own run's counts on top)
        prior_jvm = {
            k: prior_all[k]
            for k in ("jvm_recycles", "jvm_crash_restarts")
            if k in prior_all
        }
        # keep EVERY prior completed entry, not just the ones in this
        # run's name list — a targeted extension run (names=a,b) must
        # append to the artifact, not truncate it to {a, b} (a round-12
        # extension run did exactly that and the full artifact had to be
        # restored from git)
        results = {n: r for n, r in prior.items() if "spark_sec" in r}
        # r12 ADVICE: an EXPLICIT names list is a request to MEASURE those
        # queries — silently reusing a stale timing made the only way to
        # force a fresh one hand-editing the artifact. Named queries are
        # re-run (their prior entries dropped), unlisted entries preserved;
        # the cost is that a crashed explicit run re-measures its completed
        # names on resume, which is the correct bias for a measurement tool.
        # EXCEPT within one supervised run: a recycled/restarted worker
        # (SCALE_CHECK_WORKER_RESUME=1, set by supervise() on every launch
        # after the first) is the SAME measurement resuming — dropping its
        # own completed entries would re-measure query #1 forever.
        if (
            len(sys.argv) > 3
            and sys.argv[3] != "-"
            and os.environ.get("SCALE_CHECK_WORKER_RESUME") != "1"
        ):
            stale = [n for n in names if n in results]
            for n in stale:
                del results[n]
            if stale:
                stale_dropped = True
                print(f"re-measuring named queries: {stale}", flush=True)
        if results:
            print(f"resuming: {len(results)} spark timings from {out_path}", flush=True)

    def checkpoint() -> None:
        with open(out_path, "w") as fh:
            # prior_jvm rides along: a mid-run checkpoint that dropped it
            # would erase earlier runs' recycle/crash history as soon as
            # this run recycles once (the next worker re-reads the file)
            json.dump({"fixture": fixture, "recoded": recoded,
                       "partial": True, "queries": results, **prior_jvm},
                      fh, indent=1)

    if stale_dropped:
        # flush the stale-drop to disk BEFORE measuring: if this worker
        # dies before its first natural checkpoint (e.g. OOM on the very
        # query being re-measured), the restarted worker resumes with the
        # resume marker set and would otherwise find the old entry still
        # in the artifact, skip the query, and report the STALE timing as
        # this run's result
        checkpoint()

    def run_control(name: str) -> None:
        """DuckDB control in a budgeted subprocess, run IMMEDIATELY after
        the query's Spark reps (co-run adjacency: the r10 box-variance
        finding — identical code swinging ±60% with machine load — means a
        control measured an hour later is a different experiment; the
        ratio is only meaningful when both engines see the same box)."""
        def clean_spill() -> None:
            # ADVICE r13: a control that hit the disk cap or errored may
            # die before DuckDB's clean connection close deletes its temp
            # files — up to the full cap lingers in /tmp, the same
            # accumulation class the r13 timeout-path rmtree fixed. Clean
            # after ANY non-clean outcome, not just SIGKILLed timeouts.
            import shutil as _sh

            _sh.rmtree("/tmp/duckdb_ctrl_tmp", ignore_errors=True)

        try:
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--control-one",
                 recoded, name],
                capture_output=True, text=True, timeout=ctrl_timeout,
            )
            if p.returncode == 0:
                ctrl = json.loads(p.stdout.strip().splitlines()[-1])
                if "bounded" in ctrl:
                    # control hit the declared spill cap: Spark finished,
                    # the control ran elapsed_sec before dying on disk —
                    # the true control time is >= elapsed, so the recorded
                    # ratio is a <= bound (same semantics as timeout)
                    el = ctrl["elapsed_sec"]
                    results[name]["control_sec"] = (
                        f"{ctrl['bounded']} after {el}s"
                    )
                    results[name]["ratio"] = (
                        round(results[name]["spark_sec"] / el, 3)
                        if el > 0 else None
                    )
                    results[name]["ratio_bound"] = "le"
                    clean_spill()
                else:
                    sec = ctrl["sec"]
                    results[name]["control_sec"] = sec
                    results[name]["control_reps"] = ctrl["reps"]
                    # r11 ADVICE: a control whose warm run exceeded the
                    # budget never got a warm rep — its control_sec is a
                    # COLD run (slightly Spark-favoring); flag it so
                    # readers see which
                    results[name]["control_cold"] = bool(ctrl.get("cold", False))
                    results[name]["ratio"] = (
                        round(results[name]["spark_sec"] / sec, 3)
                        if sec > 0 else None
                    )
            else:
                results[name]["control_sec"] = f"error: {p.stderr.strip()[-300:]}"
                results[name]["ratio"] = None
                clean_spill()
        except subprocess.TimeoutExpired:
            results[name]["control_sec"] = f"timeout>{ctrl_timeout}s"
            # Spark finished, control did not: report the floor of the win
            results[name]["ratio"] = round(
                results[name]["spark_sec"] / ctrl_timeout, 3
            )
            results[name]["ratio_bound"] = "le"
            # a SIGKILLed control never cleans its spill files; left in
            # place they accumulate across timeouts until a LATER query's
            # Spark spill finds the disk full (the r13 first run died
            # exactly there — three 900s-timeout controls left ~70 GB)
            clean_spill()
        print(f"duckdb {name}: {results[name]['control_sec']}", flush=True)
        checkpoint()

    def gc_between_reps() -> None:
        # operators persist() slim intermediates and hand back a plan —
        # across 16 queries at 100x those cached blocks accumulate in
        # ONE JVM and eventually starve a later broadcast build (the r9
        # first run died exactly there). Each query must be billed its
        # own persists only: drop the SQL cache + nudge the JVM GC so
        # ContextCleaner reclaims broadcasts/checkpoints between reps.
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    heavy_since_start = 0
    for name in names:
        if name in results and "control_sec" not in results[name]:
            run_control(name)  # resume interrupted mid-query
            continue
        if name in results:
            continue

        def one_rep(rep: int) -> tuple[float, str]:
            group = f"scale:{name}:{rep}"
            t0 = time.time()
            with job_group(spark, group):
                qs[name](spark, recoded).write.format("noop").mode(
                    "overwrite"
                ).save()
            return round(time.time() - t0, 3), group

        load0 = os.getloadavg()
        warm_sec, warm_group = one_rep(0)
        # straggler telemetry from the WARM rep: it computes every persist
        # from scratch, so its stages are the ones a production run pays.
        # VERDICT r13 #3: the artifact LEADS with worst_ratio_heavy (stages
        # whose median task >= HEAVY_STAGE_MEDIAN_MS — where the cluster is
        # genuinely working); the raw all-stages ratio is only reported
        # when its own stage's median is >= 100 ms, because a 500x ratio
        # on a 6 ms-median stage is scheduling dust, not a hot key (the
        # r13 dedup_clusters 507.33 footgun).
        raw = straggler_report(spark, warm_group)
        straggler = {
            "worst_ratio_heavy": raw["worst_ratio_heavy"],
            "worst_stage_heavy": raw["worst_stage_heavy"],
            "stages_checked": raw["stages_checked"],
        }
        ws = raw.get("worst_stage")
        if ws is not None and ws["median_ms"] >= 100:
            straggler["worst_ratio"] = raw["worst_ratio"]
            straggler["worst_stage"] = ws
        elif ws is None:
            # ADVICE r14: no stage passed the raw metric's minimum bar at
            # all — say so, instead of a synthetic '0.0 on a 0ms-median
            # stage' that implies a stage was checked
            straggler["worst_ratio_raw_suppressed"] = (
                "no checkable stages (none with >=2 tasks and a slowest "
                "task >= 400 ms — read the heavy metric)"
            )
        else:
            straggler["worst_ratio_raw_suppressed"] = (
                f"{raw['worst_ratio']} on a "
                f"{ws['median_ms']}ms-median stage "
                "(< 100ms floor — scheduling dust, read the heavy metric)"
            )
        gc_between_reps()
        # post-warm reps carry the timing; a query whose warm rep is
        # already LONG gets one post-warm rep (JVM warmup noise is <2% of
        # a multi-minute wall; tripling it burns the box for nothing)
        # SCALE_CHECK_FORCE_POST_REPS=1 takes the full rep count even past
        # LONG_QUERY_S — for targeted re-measures where a single-rep wall
        # is the artifact's longest number and drift would be invisible
        # (VERDICT r14 #6: dedup_ngram_jaccard)
        force = os.environ.get("SCALE_CHECK_FORCE_POST_REPS") == "1"
        n_post = 1 if (warm_sec > LONG_QUERY_S and not force) else reps
        times = []
        for rep in range(1, n_post + 1):
            sec, _ = one_rep(rep)
            times.append(sec)
            gc_between_reps()
        results[name] = {
            "spark_sec": round(statistics.median(times), 3),
            "spark_warm_sec": warm_sec,
            "spark_reps": times,
            "loadavg_at_start": [round(x, 2) for x in load0],
            "straggler": straggler,
        }
        print(f"spark {name}: {results[name]['spark_sec']}s "
              f"(warm {warm_sec}s, heavy-stage worst task ratio "
              f"{straggler['worst_ratio_heavy']})", flush=True)
        checkpoint()
        run_control(name)
        if warm_sec >= RECYCLE_HEAVY_S:
            heavy_since_start += 1
        if (
            worker
            and heavy_since_start >= RECYCLE_AFTER_HEAVY
            and any(n not in results for n in names)
        ):
            print(
                f"recycling JVM after {heavy_since_start} heavy queries "
                f"(warm >= {RECYCLE_HEAVY_S:.0f}s) — supervisor restarts "
                "from the artifact checkpoint", flush=True,
            )
            sys.exit(42)

    spark_total = round(sum(r["spark_sec"] for r in results.values()), 3)
    finite = [
        r["control_sec"] for r in results.values()
        if isinstance(r["control_sec"], (int, float))
    ]
    artifact = {
        "fixture": fixture,
        "recoded": recoded,
        "driver_mem": spark.conf.get("spark.driver.memory", "default"),
        "method": (
            f"warm-rep/co-run protocol (r10): per query, one untimed warm rep "
            f"(straggler telemetry) then median of {reps} post-warm reps "
            f"(1 when warm > {LONG_QUERY_S:.0f}s — warmup noise is <2% of a "
            "multi-minute wall); the DuckDB control runs IMMEDIATELY after "
            f"each query's Spark reps in a subprocess with a {ctrl_timeout}s "
            f"budget, itself warm-rep-median (single cold run when warm > "
            f"{LONG_CONTROL_S:.0f}s) and a {CONTROL_DISK_CAP_GB}GB spill-disk "
            "cap (exceeding it records 'disk>cap after Ns' with a <= -bound "
            "ratio, same semantics as timeout); loadavg recorded per query; "
            "noop sink; "
            "both engines read the identical multi-row-group recodes; "
            "straggler HEADLINE = worst_ratio_heavy (max/median task ratio "
            "restricted to stages whose median task >= 1s — where the "
            "cluster is genuinely working); the raw all-stages ratio "
            "(>=2 tasks, slowest >= 400 ms, the tests/test_skew.py metric) "
            "is reported only when its stage's median >= 100 ms, else "
            "suppressed as scheduling dust (VERDICT r13 #3)"
        ),
        "queries": results,
        "spark_total_sec": spark_total,
        "control_total_sec_finite_only": round(sum(finite), 3),
        "n_control_timeouts": sum(
            1 for r in results.values()
            if isinstance(r["control_sec"], str)
            and r["control_sec"].startswith("timeout")
        ),
        "n_control_disk_bounded": sum(
            1 for r in results.values()
            if isinstance(r["control_sec"], str)
            and r["control_sec"].startswith("disk>")
        ),
        **prior_jvm,
    }
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps({"spark_total_sec": spark_total, "out": out_path}))


def _completed_count(out_path: str) -> int:
    try:
        with open(out_path) as fh:
            return sum(
                1 for r in json.load(fh).get("queries", {}).values()
                if "spark_sec" in r
            )
    except (OSError, json.JSONDecodeError):
        return 0


def supervise() -> None:
    """Default entrypoint (VERDICT r14 #2): run the measurement in
    ``--worker`` subprocesses, restarting after every
    ``RECYCLE_AFTER_HEAVY`` heavy queries (exit code 42 — a fresh JVM by
    construction, resuming from the artifact checkpoint) and after crashes
    (any other non-zero exit) as long as the crashed worker made progress;
    ``MAX_NO_PROGRESS_RESTARTS`` consecutive zero-progress crashes abort.
    On completion the final artifact is annotated with the recycle/crash
    counts so the run's JVM hygiene is part of the record."""
    out_path = sys.argv[2]
    recycles = 0
    crash_restarts = 0
    no_progress = 0
    first = True
    while True:
        before = _completed_count(out_path)
        env = os.environ.copy()
        if not first:
            env["SCALE_CHECK_WORKER_RESUME"] = "1"
        first = False
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker"]
            + sys.argv[1:],
            env=env,
        )
        if p.returncode == 0:
            break
        after = _completed_count(out_path)
        if p.returncode == 42:
            recycles += 1
            print(f"supervisor: JVM recycle #{recycles} "
                  f"({after} queries done)", flush=True)
            continue
        crash_restarts += 1
        if after > before:
            no_progress = 0
        else:
            no_progress += 1
        print(f"supervisor: worker died rc={p.returncode} "
              f"({after} queries done, crash restart #{crash_restarts}, "
              f"{no_progress} consecutive without progress)", flush=True)
        if no_progress >= MAX_NO_PROGRESS_RESTARTS:
            print("supervisor: aborting — worker crashes repeatedly on the "
                  "same query; artifact keeps every completed timing",
                  flush=True)
            sys.exit(p.returncode)
    try:
        with open(out_path) as fh:
            artifact = json.load(fh)
        # accumulate onto whatever history the worker carried forward —
        # the artifact's counts describe EVERY supervised run that
        # contributed timings, not just the last one
        artifact["jvm_recycles"] = artifact.get("jvm_recycles", 0) + recycles
        artifact["jvm_crash_restarts"] = (
            artifact.get("jvm_crash_restarts", 0) + crash_restarts
        )
        artifact["jvm_recycle_policy"] = (
            f"worker JVM recycled after every {RECYCLE_AFTER_HEAVY} queries "
            f"whose warm rep >= {RECYCLE_HEAVY_S:.0f}s (exit 42 + "
            "resume-by-artifact); crashes restart in a fresh JVM unless "
            f"{MAX_NO_PROGRESS_RESTARTS} consecutive restarts complete "
            "nothing new"
        )
        with open(out_path, "w") as fh:
            json.dump(artifact, fh, indent=1)
    except (OSError, json.JSONDecodeError):
        pass


if __name__ == "__main__":
    if sys.argv[1] == "--control-one":
        control_one(sys.argv[2], sys.argv[3])
    elif sys.argv[1] == "--worker":
        del sys.argv[1]
        main(worker=True)
    else:
        supervise()
