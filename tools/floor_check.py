"""Generic per-action-floor decomposition for 100x checkpoint rows whose
control is small-seconds (VERDICT r12 next-#1 `item_degree_profile`,
next-#5 `position_attribution`; the `customer_value_deciles` precedent is
tools/ntile_floor.py / NTILE_FLOOR.json).

The question a >2x ratio on a 1-2 s control actually poses: is the Spark
wall DATA work (which a 1000-executor cluster scales) or the fixed
per-action/per-stage scheduling+codegen cost of local-mode Spark (which it
amortizes)? This tool answers it by running the IDENTICAL registry query
twice:

* FULL — against the 100x recode (the SCALE100X row);
* FLOOR — against a 1000-row slice of the same tables (same schema, same
  pipeline, same number of actions/stages/exchanges, ~zero data), built
  once into /tmp/floor_1k with DuckDB `COPY (… LIMIT 1000)`.

floor.sec is the pure per-action floor; data_work = full - floor is what
scales; the verdict's adjudication standard is data_work <= control.

Usage: python tools/floor_check.py FIXTURE_DIR OUT_JSON q1,q2[,...]
Appends/overwrites per-query entries in OUT_JSON (same resume-by-artifact
pattern as scale_check, except named queries always re-measure — this is
a targeted measurement tool).
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

TABLES = ["orders", "events", "documents", "embeddings"]

FLOOR_DIR = "/tmp/floor_1k"
FLOOR_ROWS = 1000


def _spark_floor_position_attribution(spark, recoded: str):
    """Spark-native lower bound for position_attribution (VERDICT r13 #1b):
    the SAME bucketed range join + recency-rank window over the SAME rows,
    computing only count(*) — the cheapest plan any engine-on-Spark could
    run that still does the operator's data work. If the full operator's
    wall is within ~1.2x of this, the residual vs the DuckDB control is
    the join+window engine constant (IEJoin vs shuffled SMJ), not a
    shaveable plan defect. (r14 measured the alternatives: shuffle-hash
    1.34s, broadcast-conv 2.78s, single-scan-no-reuse 1.29s, range-frame
    window 2.14s vs bucketed SMJ 1.25s for the pairs job — the landed
    spelling is the fastest of the five.)"""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.analytics import (
        _attribution_pairs,
    )
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
    )

    ev = events_from_fixture(spark, recoded)
    pairs = _attribution_pairs(ev, 86400, "purchase", "view")
    w = Window.partitionBy("__cid").orderBy(F.desc("__tt"), F.asc("__tid"))
    ranked = pairs.withColumn("__rr", F.row_number().over(w)).filter(
        F.col("__rr") <= 20
    )
    # VERDICT r14 #3: the bound runs THROUGH the item rollup (the same
    # groupBy(itemid) exchange the full operator pays) with a count
    # payload — the r14 count-only bound omitted that exchange, which is
    # why full/bound read 1.229 against the ~1.2 tolerance; what the full
    # operator still pays beyond this is ONLY the decimal credit
    # arithmetic inside the same stages
    return ranked.groupBy("itemid").agg(F.count("*").alias("n"))


def _spark_floor_item_degree_profile(spark, recoded: str):
    """Spark-native lower bound for item_degree_profile (VERDICT r13 #2):
    the SAME item_transitions edge frame (the window + pair-count pipeline
    that dominates the operator) capped with ONE groupBy-count — the
    cheapest possible plan touching the same bytes. If the full operator
    is within noise of this, the 1.66x data-work residual is the edge
    build's engine constant, not the profile's explode/agg spelling."""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.graph import (
        item_transitions,
    )
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
    )

    ev = events_from_fixture(spark, recoded)
    return item_transitions(ev).groupBy("src").agg(F.count("*").alias("n"))


def _spark_floor_rfm_segments(spark, recoded: str):
    """Spark-native lower bound for rfm_segments (VERDICT r14 #1b): the
    SAME per-customer rollup (one hash exchange, reused across branches)
    fanned through the SAME three range exchanges + local sorts + the
    nondeterministic stamp — i.e. the one-union multi-ntile's data path —
    with a per-branch max/count payload instead of the checkpoint, the
    offsets collect, the broadcast join, and the final groupBy(custkey)
    assembly. Any exact multi-ntile on Spark pays at least these scans
    and exchanges; full/bound ~ 1 means the residual vs the DuckDB
    control is the range-exchange platform constant, not a plan defect.
    (The max(__mid) payload keeps the nondeterministic projection — and
    with it the full stamp pass — from being optimized away. The rollup,
    the specs, and the branch/union/stamp construction are all IMPORTED
    from the operator module, so the bound measures the operator's exact
    data path by construction and cannot silently drift from it.)"""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.analytics import (
        RFM_NTILE_SPECS,
        _ntile_union_stamped,
        _rfm_per_cust,
    )

    orders = spark.read.parquet(os.path.join(recoded, "orders.parquet"))
    un = _ntile_union_stamped(
        _rfm_per_cust(orders),
        RFM_NTILE_SPECS,
        spark.sparkContext.defaultParallelism,
    )
    return un.groupBy("__metric").agg(
        F.max("__mid").alias("m"), F.count("*").alias("n")
    )


def _spark_floor_graph_triangles(spark, recoded: str):
    """Spark-native lower bound for graph_triangles (VERDICT r14 #5): the
    SAME fused edge construction (_cobrowse_edges — window + one (a,b)
    agg), the SAME degree frame, the SAME degree-ordered orientation,
    wedge self-join, and closing semi-join, with a single global count
    payload — the operator minus its checkpoint machinery, bounded probe,
    and wedge/transitivity arithmetic. The edge agg exchange is reused
    across its consumers by Catalyst (no checkpoint needed in a one-query
    bound). Any exact triangle census on Spark pays at least this."""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.graph import (
        _cobrowse_edges,
    )
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
    )

    ev = events_from_fixture(spark, recoded)
    edges = _cobrowse_edges(ev, 2)
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionAll(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    da = F.broadcast(deg.select(F.col("n").alias("a"), F.col("d").alias("__da")))
    db = F.broadcast(deg.select(F.col("n").alias("b"), F.col("d").alias("__db")))
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    o1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = o1.join(o2, "u").filter(F.col("x") < F.col("y"))
    closing = edges.select(F.col("a").alias("__ca"), F.col("b").alias("__cb"))
    return wedges.join(
        closing,
        (F.col("x") == F.col("__ca")) & (F.col("y") == F.col("__cb")),
        "left_semi",
    ).groupBy().count()


def _spark_floor_duplicate_spans(spark, recoded: str):
    """Spark-native lower bound for duplicate_spans (VERDICT r14 #5): both
    window-hash explodes over every document (pass 1's bare-hash explode +
    count + threshold; pass 2's re-explode + candidate semi-join) with a
    count payload — the operator minus survivor span-text construction,
    the exact string recount, and the top-k sort. Exploding ~1 hash per
    corpus token twice IS substring-level dedup's irreducible cost; any
    exact fixed-width span detector on Spark pays at least this.
    (Re-spelled from operators/dedup.py:duplicate_spans pass 1/2 — the
    candidate subplan is function-internal there.)"""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.text import tokens_col

    span_tokens, min_occurrences = 16, 2
    docs = spark.read.parquet(os.path.join(recoded, "documents.parquet"))
    toks = docs.select(
        F.col("doc_id"), tokens_col(F.col("text")).alias("__toks")
    ).filter(F.size("__toks") >= span_tokens)
    candidates = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - span_tokens + 1),
                    lambda i: F.xxhash64(
                        F.slice(F.col("__toks"), i, span_tokens)
                    ),
                )
            ).alias("__h")
        )
        .groupBy("__h")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= min_occurrences)
        .select("__h")
    )
    hashes2 = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - span_tokens + 1),
                lambda i: F.xxhash64(F.slice(F.col("__toks"), i, span_tokens)),
            )
        ).alias("__h")
    )
    return hashes2.join(candidates, "__h", "left_semi").groupBy().count()


#: per-query Spark-native lower bounds: the minimal plan that still pays the
#: operator's irreducible data work (same scans, same shuffles), with a
#: trivial payload. full/spark_floor ~ 1 ==> the row is floor-class BY
#: MEASUREMENT (the residual vs the DuckDB control is an engine constant a
#: cluster amortizes, not a plan defect a rewrite could shave).
SPARK_FLOORS = {
    "position_attribution": _spark_floor_position_attribution,
    "item_degree_profile": _spark_floor_item_degree_profile,
    "rfm_segments": _spark_floor_rfm_segments,
    "graph_triangles": _spark_floor_graph_triangles,
    "duplicate_spans": _spark_floor_duplicate_spans,
}


def build_floor_fixture(recoded: str) -> str:
    """1000-row slices of every table in the recode — LIMIT, not an empty
    filter: zero-row inputs short-circuit broadcast/collect passes and
    would drop actions from the decomposition (ntile_floor's finding).

    Rebuilt from scratch on every invocation (ADVICE r13): the slices were
    previously keyed only on path existence, so a /tmp/floor_1k surviving
    from a run against a DIFFERENT recode silently skewed the floor
    timings with stale 1000-row slices."""
    import shutil

    import duckdb

    shutil.rmtree(FLOOR_DIR, ignore_errors=True)
    os.makedirs(FLOOR_DIR, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(recoded, f"{t}.parquet")
        dst = os.path.join(FLOOR_DIR, f"{t}.parquet")
        if os.path.exists(src):
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}') LIMIT {FLOOR_ROWS}) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
    return FLOOR_DIR


def main() -> None:
    fixture, out_path = sys.argv[1], sys.argv[2]
    names = [s for s in sys.argv[3].split(",") if s]

    import bench

    recoded = bench._recode_fixture(fixture)
    floor_dir = build_floor_fixture(recoded)

    import __spark_entry__ as entrymod
    from clickestream_project_bigdata_spark.session import get_spark
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
    )

    spark = get_spark("floor_check")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # untimed warmup: parquet reader, codegen, noop sink
    events_from_fixture(spark, recoded).limit(1000).groupBy("event").count().write.format(
        "noop"
    ).mode("overwrite").save()

    def timed(fn) -> dict:
        """scale_check's warm-rep protocol: 1 warm + median of 2 post-warm;
        SQL cache dropped between reps so each rep pays its own persists."""
        reps = []
        for _ in range(3):
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            reps.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        return {"sec": statistics.median(reps[1:]), "warm_sec": reps[0],
                "reps": reps[1:]}

    results: dict[str, dict] = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            results = json.load(fh).get("queries", {})

    for name in names:
        q = qs[name]
        load0 = [round(x, 2) for x in os.getloadavg()]
        floor = timed(lambda: q(spark, floor_dir))
        full = timed(lambda: q(spark, recoded))
        # co-run control, same subprocess/budget protocol as scale_check
        try:
            p = subprocess.run(
                [sys.executable, os.path.join(REPO, "tools", "scale_check.py"),
                 "--control-one", recoded, name],
                capture_output=True, text=True, timeout=900,
            )
            ctrl = (
                json.loads(p.stdout.strip().splitlines()[-1])
                if p.returncode == 0
                else {"sec": None, "error": p.stderr[-300:]}
            )
        except subprocess.TimeoutExpired:
            ctrl = {"sec": None, "error": "timeout>900s"}
        if ctrl.get("sec") is None:
            # a SIGKILLed/errored control never cleans its spill files
            # (same accumulation class scale_check's timeout path fixes)
            import shutil as _sh

            _sh.rmtree("/tmp/duckdb_ctrl_tmp", ignore_errors=True)
        data_work = round(full["sec"] - floor["sec"], 3)
        results[name] = {
            "loadavg_at_start": load0,
            "floor": floor,
            "full": full,
            "control": ctrl,
            "data_work_sec": data_work,
            "ratio_full_vs_control": (
                round(full["sec"] / ctrl["sec"], 3) if ctrl.get("sec") else None
            ),
            "ratio_data_work_vs_control": (
                round(data_work / ctrl["sec"], 3) if ctrl.get("sec") else None
            ),
        }
        if name in SPARK_FLOORS:
            # INTERLEAVED protocol: the full operator and its bound
            # alternate rep-for-rep so both medians see the same box state
            # — the r14 first draw timed them ~10 min apart (bound after
            # the control subprocess) and box drift alone moved the ratio
            # 1.16 -> 1.34. Ratio of medians over 5 alternating reps each.
            def one(fn) -> float:
                t0 = time.time()
                fn().write.format("noop").mode("overwrite").save()
                spark.catalog.clearCache()
                return round(time.time() - t0, 3)

            bound_fn = lambda: SPARK_FLOORS[name](spark, recoded)
            full_fn = lambda: q(spark, recoded)
            load_i = [round(x, 2) for x in os.getloadavg()]
            one(full_fn), one(bound_fn)  # warm both, untimed
            fs, bs = [], []
            for _ in range(5):
                fs.append(one(full_fn))
                bs.append(one(bound_fn))
            f_med, b_med = statistics.median(fs), statistics.median(bs)
            results[name]["spark_native_floor"] = {
                "sec": b_med, "reps": bs,
                "full_interleaved_sec": f_med, "full_interleaved_reps": fs,
                # ADVICE r14: the cross-engine ratio below divides this
                # interleaved median by a control measured in an EARLIER
                # non-interleaved phase — record the box state at both so
                # a drift-confounded draw is visible in the artifact
                # (loadavg_at_start above is the control phase's)
                "loadavg_at_interleave_start": load_i,
            }
            results[name]["spark_native_floor_doc"] = (
                SPARK_FLOORS[name].__doc__.split("\n")[0].strip()
            )
            results[name]["ratio_full_vs_spark_floor"] = (
                round(f_med / b_med, 3) if b_med else None
            )
            results[name]["ratio_spark_floor_vs_control"] = (
                round(b_med / ctrl["sec"], 3) if ctrl.get("sec") else None
            )
            results[name]["ratio_spark_floor_vs_control_note"] = (
                "CROSS-PHASE ratio: bound median is interleaved, the "
                "DuckDB control ran in the earlier co-run phase — compare "
                "loadavg_at_interleave_start vs loadavg_at_start before "
                "trusting it to <0.1x resolution (ADVICE r14); the "
                "same-phase number is ratio_full_vs_spark_floor"
            )
        print(json.dumps({name: results[name]}, indent=1), flush=True)
        with open(out_path, "w") as fh:
            json.dump({
                "fixture": fixture,
                "recoded": recoded,
                "floor_fixture": floor_dir,
                "floor_rows": FLOOR_ROWS,
                "method": (
                    "floor = the identical registry query over 1000-row "
                    "slices of the same tables (same pipeline, same "
                    "actions/stages, ~zero data) — its wall is the pure "
                    "per-action scheduling/codegen floor of local-mode "
                    "Spark; data_work = full - floor is what a cluster "
                    "scales; warm-rep protocol (1 warm + median of 2) for "
                    "every row incl. the co-run DuckDB control subprocess. "
                    "spark_native_floor (where present) = the minimal "
                    "Spark plan paying the same irreducible data work "
                    "(same scans/shuffles, trivial payload); "
                    "full/spark_floor ~ 1 means the row is floor-class by "
                    "measurement — the residual vs the control is an "
                    "engine constant a cluster amortizes"
                ),
                "queries": results,
            }, fh, indent=1)


if __name__ == "__main__":
    main()
