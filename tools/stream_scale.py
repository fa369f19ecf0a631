"""Streaming-at-scale replay (VERDICT r8 #4): push an events fixture through
the native session-window sessionizer as a REAL multi-batch file stream
(50+ micro-batches), assert cross-batch session totals equal the batch
oracle, and record throughput + state-store telemetry for SCALING.md.

This is the reference's actual operating mode
(`/root/reference/stream_processor.py:400-406` — a long-lived micro-batch
loop) at a scale the reference never reached (its producer throttles to
~10 events/s; `/root/reference/producer.py:14` implies ~76 h for the full
dataset).

Usage: python tools/stream_scale.py [fixture_dir] [out_json] [n_chunks] [files_per_trigger] [op]
       defaults: /tmp/scale10x STREAM_SCALE.json 60 1 sessionize
       op: sessionize | decayed | funnel | funnel_ttl | funnel_replay —
       VERDICT r10 #5 (funnel_ttl: the r11 #4 state-bound run)
       extends the 10M-event equality run to every custom stateful
       operator; each op replays the fixture as a real multi-batch file
       stream and asserts exact (or, for the float decay fold,
       1e-6-relative) equality against the batch closed form.
       files_per_trigger=1 measures per-micro-batch overhead (62 batches);
       larger values measure state-machine capacity (fewer, fatter batches).

Flow:
 1. events_from_fixture -> time-sorted canonical rows -> n_chunks parquet
    files with strictly increasing mtimes (FileStreamSource order == event
    time order; the watermark handles intra-chunk disorder);
 2. one sentinel far-future chunk so the event-time watermark passes every
    real session's last+gap and the session windows FLUSH — without it the
    tail sessions would sit in the state store forever (availableNow stops
    at end-of-input, it does not advance time);
 3. stateful_session_metrics over the chunk stream (maxFilesPerTrigger=1,
    append mode, parquet sink) — one micro-batch per chunk;
 4. equality: streamed closed sessions (minus the sentinel visitor) must
    EXACTLY equal the batch operator's session_metrics(sessionize(...)) on
    the same fixture (exceptAll both ways == 0);
 5. telemetry from query.recentProgress: rows/s, batch count, state rows,
    state memory.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SENTINEL_VISITOR = -1


def write_chunks(spark, fixture_dir: str, chunks_dir: str, n_chunks: int) -> int:
    """Time-sorted canonical events -> n_chunks parquet files (strictly
    increasing mtimes) + 1 sentinel flush chunk. Returns total REAL rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
    )

    shutil.rmtree(chunks_dir, ignore_errors=True)
    os.makedirs(chunks_dir)
    pdf = (
        events_from_fixture(spark, fixture_dir)
        .orderBy("event_time", "event_id")
        .toPandas()
    )
    # UTC-localize so pyarrow writes isAdjustedToUTC=true and Spark reads
    # TimestampType (not NTZ), matching CANON_EVENT_SCHEMA; micros, not
    # pandas' default nanos — Spark's vectorized reader rejects
    # TIMESTAMP(NANOS) parquet columns
    pdf["event_time"] = pdf["event_time"].dt.tz_localize("UTC").astype(
        "datetime64[us, UTC]"
    )
    n = len(pdf)
    per = (n + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        if len(chunk) == 0:
            break
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(chunks_dir, f"chunk_{i:05d}.parquet"),
        )
        time.sleep(0.002)  # strictly increasing mtimes
    # sentinel: one far-future event advances the watermark past every real
    # session's last+gap, flushing the whole state store
    sentinel = pdf.iloc[-1:].copy()
    sentinel["visitorid"] = SENTINEL_VISITOR
    sentinel["itemid"] = None  # itemid-keyed ops filter NOT NULL
    sentinel["event_time"] = (
        sentinel["event_time"] + __import__("pandas").Timedelta(days=30)
    ).astype("datetime64[us, UTC]")
    time.sleep(0.002)
    pq.write_table(
        pa.Table.from_pandas(sentinel, preserve_index=False),
        os.path.join(chunks_dir, f"chunk_{n_chunks:05d}_sentinel.parquet"),
    )
    return n




def write_range_chunks(
    spark, fixture_dir: str, chunks_dir: str, fractions=(1 / 3, 2 / 3)
) -> tuple[int, list[int]]:
    """Events split into len(fractions)+1 parquet chunks by EVENT-TIME
    RANGE (not row count) with strictly increasing mtimes, + the sentinel
    flush chunk — the FORCED WATERMARK SCHEDULE behind the funnel_replay
    op: with maxFilesPerTrigger=1 the watermark during batch k+1 is
    exactly max(event_time over chunks <= k) - delay, so timer firings
    (= segment boundaries) are a deterministic function of the data and
    the boundaries. Returns (n_real_rows, boundary_epoch_us_list)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
    )

    shutil.rmtree(chunks_dir, ignore_errors=True)
    os.makedirs(chunks_dir)
    pdf = (
        events_from_fixture(spark, fixture_dir)
        .orderBy("event_time", "event_id")
        .toPandas()
    )
    pdf["event_time"] = pdf["event_time"].dt.tz_localize("UTC").astype(
        "datetime64[us, UTC]"
    )
    us = pdf["event_time"].astype("int64")
    lo, hi = int(us.min()), int(us.max())
    bounds = [lo + int((hi - lo) * f) for f in fractions]
    edges = [lo] + bounds + [hi + 1]
    # ADVICE r13: an EMPTY event-time range must not become a zero-row
    # chunk file — it would add a zero-row batch that the schedule audit
    # (nonzero batch rows == chunk rows) flags as a false failure, while
    # the watermark schedule itself is unaffected (an empty batch carries
    # no new event times). Merge empty ranges into their successor by
    # dropping the boundary; returned bounds are the start edges of the
    # WRITTEN chunks (excluding the first), so the batch-simulation's
    # chunk indexing stays aligned with the files the stream actually saw.
    kept_bounds: list[int] = []
    n_written = 0
    for i in range(len(edges) - 1):
        chunk = pdf[(us >= edges[i]) & (us < edges[i + 1])]
        if len(chunk) == 0:
            continue
        if n_written > 0:
            kept_bounds.append(edges[i])
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(chunks_dir, f"chunk_{n_written:05d}.parquet"),
        )
        n_written += 1
        time.sleep(0.002)
    sentinel = pdf.iloc[-1:].copy()
    sentinel["visitorid"] = SENTINEL_VISITOR
    sentinel["itemid"] = None
    sentinel["event_time"] = (
        sentinel["event_time"] + __import__("pandas").Timedelta(days=30)
    ).astype("datetime64[us, UTC]")
    pq.write_table(
        pa.Table.from_pandas(sentinel, preserve_index=False),
        os.path.join(chunks_dir, f"chunk_{n_written:05d}_sentinel.parquet"),
    )
    return len(pdf), kept_bounds


def _append_run(out_path: str, artifact: dict) -> None:
    """APPEND to the runs list (the r10 10M run initially overwrote the r9
    1M runs because this wrote a bare dict — keep the longitudinal
    record). Any unrecognized prior shape (non-dict, or a dict with
    neither 'runs' nor a known run field) is WRAPPED, never dropped."""
    runs = []
    if os.path.exists(out_path):
        try:
            with open(out_path) as fh:
                prior = json.load(fh)
            if isinstance(prior, dict) and isinstance(prior.get("runs"), list):
                runs = prior["runs"]
            elif prior is not None:
                # r11 ADVICE: a falsy-but-valid prior (empty list/dict) is
                # wrapped too, honoring "WRAPPED, never dropped" literally
                runs = prior if isinstance(prior, list) else [prior]
        except (json.JSONDecodeError, OSError):
            runs = []
    runs.append(artifact)
    with open(out_path, "w") as fh:
        json.dump({"runs": runs}, fh, indent=1)
    print(json.dumps(artifact))


def _progress_stats(q) -> tuple[int, int | None, int | None]:
    """(micro_batches, max state rows, max state bytes) from recentProgress.
    PySpark 4 returns StreamingQueryProgress objects; older returns JSON."""
    progress = [
        json.loads(p.json if hasattr(p, "json") else p) for p in q.recentProgress
    ]
    state_rows = max(
        (so["numRowsTotal"] for p in progress for so in p.get("stateOperators", [])),
        default=None,
    )
    state_mem = max(
        (so.get("memoryUsedBytes", 0) for p in progress
         for so in p.get("stateOperators", [])),
        default=None,
    )
    return len(progress), state_rows, state_mem


def main() -> None:
    fixture = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale10x"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "STREAM_SCALE.json"
    n_chunks = int(sys.argv[3]) if len(sys.argv) > 3 else 60
    files_per_trigger = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    op = sys.argv[5] if len(sys.argv) > 5 else "sessionize"
    if op != "sessionize":
        run_stateful_op(op, fixture, out_path, n_chunks, files_per_trigger)
        return

    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.sessionize import (
        session_metrics,
        sessionize,
    )
    from clickestream_project_bigdata_spark.session import get_spark
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
        events_stream_from_chunks,
    )
    from clickestream_project_bigdata_spark.streaming.sessions import (
        stateful_session_metrics,
    )

    spark = get_spark("stream_scale")
    spark.sparkContext.setLogLevel("ERROR")

    work = "/tmp/stream_scale"
    chunks_dir = os.path.join(work, "chunks")
    sink_dir = os.path.join(work, "sessions_out")
    ckpt_dir = os.path.join(work, "ckpt")
    for d in (sink_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)

    n_rows = write_chunks(spark, fixture, chunks_dir, n_chunks)
    print(f"chunks written: {n_rows} rows in {n_chunks}+1 files", flush=True)

    stream = events_stream_from_chunks(spark, chunks_dir, max_files=files_per_trigger)
    t0 = time.time()
    q = (
        stateful_session_metrics(stream, gap_seconds=1800, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0

    n_batches, state_rows, state_mem = _progress_stats(q)

    streamed = spark.read.parquet(sink_dir).filter(
        F.col("visitorid") != SENTINEL_VISITOR
    )
    # normalize the batch twin's session_id (visitor_ordinal) to the
    # stateful convention (visitor_startepoch) so ids compare too
    batch = session_metrics(
        sessionize(events_from_fixture(spark, fixture))
    ).withColumn(
        "session_id",
        F.concat_ws("_", F.col("visitorid"), F.unix_timestamp("session_start")),
    )
    cols = ["session_id", "visitorid", "session_start", "session_end",
            "events_in_session", "session_length"]
    s, b = streamed.select(cols), batch.select(cols)
    extra = s.exceptAll(b).count()
    missing = b.exceptAll(s).count()
    n_sessions = s.count()
    equal = extra == 0 and missing == 0

    artifact = {
        "fixture": fixture,
        "events": n_rows,
        "files_per_trigger": files_per_trigger,
        "micro_batches": n_batches,
        "wall_sec": round(wall, 2),
        "events_per_sec": round(n_rows / wall, 1),
        "sessions_emitted": n_sessions,
        "batch_oracle_equal": equal,
        "rows_only_in_stream": extra,
        "rows_only_in_batch": missing,
        "state_store_max_rows": state_rows,
        "state_store_max_bytes": state_mem,
        "method": (
            "stateful_session_metrics (floored-second session_window, 1800 s "
            "gap, 1 h watermark) over a time-ordered parquet chunk stream, "
            f"maxFilesPerTrigger={files_per_trigger}, availableNow drain + far-future sentinel "
            "flush; equality = exceptAll==0 both ways vs "
            "session_metrics(sessionize(batch)) on the same fixture"
        ),
    }
    _append_run(out_path, artifact)
    assert equal, "stream/batch session mismatch"


def run_stateful_op(
    op: str, fixture: str, out_path: str, n_chunks: int, files_per_trigger: int
) -> None:
    """VERDICT r10 #5: the 10M-scale stream-equals-batch protocol for the
    two stateful operators beyond sessionize. Each op: replay the
    fixture as a multi-batch file stream (update mode -> foreachBatch
    parquet append stamped with batch_id; "final" row per key = the
    max-batch_id emission), then compare against the batch closed form on
    the same data. decayed compares at 1e-6 relative (a float fold vs the
    closed-form sum — mathematically identical, rounding order differs);
    funnel compares EXACTLY (its state semantics are a pure function of
    min()s)."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.session import get_spark
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
        events_stream_from_chunks,
    )
    from clickestream_project_bigdata_spark.streaming.stateful import (
        decayed_item_counts,
        stateful_funnel,
    )

    spark = get_spark(f"stream_scale_{op}")
    spark.sparkContext.setLogLevel("ERROR")
    work = "/tmp/stream_scale"
    chunks_dir = os.path.join(work, "chunks")
    sink_dir = os.path.join(work, f"{op}_out")
    ckpt_dir = os.path.join(work, f"ckpt_{op}")
    for d in (sink_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)

    def sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            sink_dir
        )

    def drain(stream_df):
        t0 = time.time()
        q = (
            stream_df.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return time.time() - t0, q

    def last_per_key(df, key):
        w = Window.partitionBy(key).orderBy(F.desc("batch_id"))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "batch_id")
        )

    def reuse_or_write_chunks() -> int:
        """Events chunks (shared with the sessionize run) are reused when
        the marker file says they came from THIS fixture at THIS chunking
        (write_chunks is ~minutes at 10M rows). r11 ADVICE: the marker
        carries n_chunks AND the fixture events file's mtime — a rerun
        with a different chunk granularity, or a fixture regenerated in
        place at the same path, rewrites the chunks instead of silently
        reusing a stale layout."""
        marker = os.path.join(chunks_dir, ".fixture")
        events_path = os.path.join(fixture, "events.parquet")
        want = json.dumps({
            "fixture": fixture,
            "n_chunks": n_chunks,
            "events_mtime_ns": os.stat(events_path).st_mtime_ns,
        })
        if os.path.exists(marker) and open(marker).read() == want:
            return (
                spark.read.parquet(chunks_dir)
                .filter(F.col("visitorid") != SENTINEL_VISITOR)
                .count()
            )
        n = write_chunks(spark, fixture, chunks_dir, n_chunks)
        with open(marker, "w") as fh:
            fh.write(want)
        return n

    if op == "decayed":
        n_rows = reuse_or_write_chunks()
        half_life = 3600.0
        stream = events_stream_from_chunks(
            spark, chunks_dir, max_files=files_per_trigger
        ).filter(F.col("itemid").isNotNull())
        wall, q = drain(decayed_item_counts(stream, half_life_s=half_life))
        final = last_per_key(spark.read.parquet(sink_dir), "itemid")
        lam = math.log(2.0) / (half_life * 1_000_000.0)
        ev = (
            events_from_fixture(spark, fixture)
            .filter(F.col("itemid").isNotNull())
            .select("itemid", F.unix_micros("event_time").alias("__us"))
        )
        mx = ev.groupBy("itemid").agg(
            F.max("__us").alias("__mx"), F.count("*").alias("raw_oracle")
        )
        oracle = (
            ev.join(F.broadcast(mx), "itemid")
            .groupBy("itemid", "__mx", "raw_oracle")
            .agg(
                F.sum(
                    F.exp(F.lit(-lam) * (F.col("__mx") - F.col("__us")))
                ).alias("decayed_oracle")
            )
        )
        cmp = final.join(oracle, "itemid", "full")
        bad = cmp.filter(
            F.col("raw_events").isNull()
            | F.col("raw_oracle").isNull()
            | (F.col("raw_events") != F.col("raw_oracle"))
            | (F.unix_micros("last_event_time") != F.col("__mx"))
            | (
                F.abs(F.col("decayed_count") - F.col("decayed_oracle"))
                > F.lit(1e-6) * F.abs(F.col("decayed_oracle"))
            )
        ).count()
        [mrow] = cmp.agg(
            F.max(
                F.abs(F.col("decayed_count") - F.col("decayed_oracle"))
                / F.abs(F.col("decayed_oracle"))
            ).alias("m"),
            F.count("*").alias("k"),
        ).collect()
        equal, detail = bad == 0, {
            "keys_compared": mrow["k"],
            "max_rel_diff_decayed": float(mrow["m"]) if mrow["m"] is not None else None,
            "tolerance": "raw/last_event_time exact; decayed 1e-6 relative",
        }
    elif op == "funnel":
        n_rows = reuse_or_write_chunks()
        steps = ["view", "click", "purchase"]  # fixture event domain
        stream = events_stream_from_chunks(
            spark, chunks_dir, max_files=files_per_trigger
        ).filter(F.col("visitorid") != SENTINEL_VISITOR)
        wall, q = drain(stateful_funnel(stream, steps))
        final = last_per_key(spark.read.parquet(sink_dir), "visitorid")
        ev = events_from_fixture(spark, fixture)
        mins = ev.groupBy("visitorid").agg(
            *[
                F.min(F.when(F.col("event") == s, F.col("event_time"))).alias(
                    f"__m{i}"
                )
                for i, s in enumerate(steps)
            ],
            F.count("*").alias("n_events"),
        )
        # chained first-touch progression (same fold the operator runs)
        k = F.lit(0)
        for i in range(len(steps)):
            ok = F.col(f"__m{i}").isNotNull() & (
                F.lit(True)
                if i == 0
                else F.col(f"__m{i}") >= F.col(f"__m{i-1}")
            )
            k = F.when((k == i) & ok, i + 1).otherwise(k)
        oracle = mins.select(
            "visitorid",
            k.cast("int").alias("steps_reached"),
            F.slice(
                F.array(*[F.col(f"__m{i}") for i in range(len(steps))]),
                F.lit(1),
                k.cast("int"),
            ).alias("step_times"),
            "n_events",
        )
        cols = ["visitorid", "steps_reached", "step_times", "n_events"]
        s, b = final.select(cols), oracle.select(cols)
        extra, missing = s.exceptAll(b).count(), b.exceptAll(s).count()
        equal = extra == 0 and missing == 0
        detail = {
            "steps": steps,
            "rows_only_in_stream": extra,
            "rows_only_in_batch": missing,
            "visitors": s.count(),
        }
    elif op == "funnel_ttl":
        # VERDICT r11 #4: the TTL-bounded funnel at scale — demonstrate the
        # state bound (state_store_max_rows << total visitors) plus an
        # EXACT conservation invariant: expiry resets n_events, every
        # segment's terminal emission is its expired=True row (the
        # far-future sentinel advances the watermark past every timeout at
        # end-of-input, so no live state survives), therefore the
        # per-visitor SUM of n_events over expired rows must equal the
        # batch event count exactly — no event lost or double-counted
        # across expiry boundaries. (Per-segment step semantics are pinned
        # at unit scale; full segment-equality at 10M would require
        # simulating watermark/batch interleaving, which is the machinery
        # under test, not an oracle.)
        n_rows = reuse_or_write_chunks()
        steps = ["view", "click", "purchase"]
        # horizon = ttl + watermark delay (1 h) + one batch's event-time
        # span (the watermark advances per batch, so a state lingers up to
        # one span past its timeout). The fixture's mean intra-visitor gap
        # is ~10.7 h; 30 min TTL at 240 chunks (~3 h spans) puts the
        # steady-state live fraction well under half the visitor count —
        # a measurable bound, not a boundary case.
        ttl_s = 1800
        # the sentinel stays IN the stream here: it is what advances the
        # event-time watermark past last+ttl for every real visitor, so
        # the trailing no-data batch expires the whole store
        stream = events_stream_from_chunks(
            spark, chunks_dir, max_files=files_per_trigger
        )
        wall, q = drain(stateful_funnel(stream, steps, ttl_s=ttl_s))
        sinkdf = spark.read.parquet(sink_dir).filter(
            F.col("visitorid") != SENTINEL_VISITOR
        )
        expired = sinkdf.filter(F.col("expired"))
        got = expired.groupBy("visitorid").agg(
            F.sum("n_events").alias("n"), F.count("*").alias("segments")
        )
        want = (
            events_from_fixture(spark, fixture)
            .groupBy("visitorid")
            .agg(F.count("*").alias("n"))
        )
        extra = got.select("visitorid", "n").exceptAll(want).count()
        missing = want.exceptAll(got.select("visitorid", "n")).count()
        [seg] = got.agg(
            F.sum("segments").alias("s"), F.count("*").alias("v")
        ).collect()
        n_batches0, state_rows0, _ = _progress_stats(q)
        # peak state is the WRONG statistic for the bound claim: it is
        # dominated by the warm-up transient (every visitor seen before the
        # watermark first crosses anyone's timeout is necessarily live).
        # The TTL contract is about the steady state — visitors active
        # within the horizon — and the drain (state returns to ~zero once
        # the sentinel advances the watermark past every timeout, where
        # NoTimeout state stays at |visitors| forever). Record the whole
        # per-batch series plus those two readings.
        series = [
            so["numRowsTotal"]
            for p in (
                json.loads(pp.json if hasattr(pp, "json") else pp)
                for pp in q.recentProgress
            )
            for so in p.get("stateOperators", [])
        ]
        mid = series[len(series) // 3 : 2 * len(series) // 3] or series
        steady = sorted(mid)[len(mid) // 2] if mid else None
        final_state = series[-1] if series else None
        equal = (
            extra == 0
            and missing == 0
            and state_rows0 is not None
            and seg["v"] is not None
            and state_rows0 < seg["v"]
        )
        detail = {
            "steps": steps,
            "ttl_s": ttl_s,
            "visitors": seg["v"],
            "segments_expired": seg["s"],
            "avg_segments_per_visitor": (
                round(seg["s"] / seg["v"], 2) if seg["v"] else None
            ),
            "conservation_rows_only_in_stream": extra,
            "conservation_rows_only_in_batch": missing,
            "state_peak_rows": state_rows0,
            "state_peak_vs_visitors": (
                round(state_rows0 / seg["v"], 4)
                if state_rows0 is not None and seg["v"]
                else None
            ),
            "state_rows_per_batch": series,
            "state_steady_rows": steady,
            "state_steady_vs_visitors": (
                round(steady / seg["v"], 4) if steady and seg["v"] else None
            ),
            "state_final_rows": final_state,
        }
    elif op == "funnel_replay":
        # VERDICT r12 stretch #7: per-segment VALUE equality for the
        # TTL funnel at full fixture scale. The r12 runs proved event-count
        # conservation; this op pins the per-segment step values by making
        # the watermark schedule DETERMINISTIC: three event-time-range
        # chunks at maxFilesPerTrigger=1 mean the watermark during batch
        # k+1 is exactly maxET(chunks<=k) - 1h, and segments can only split
        # where a timer fires between a visitor's batches — which, with
        # data batches b1..b3, is exactly {no data in b2, expired during
        # b2, data again in b3}. Every expired emission (the sentinel
        # drains all state) is then replayed in batch: per (visitor,
        # segment) chained-min step times, n_events, expired=True.
        steps = ["view", "click", "purchase"]
        ttl_s = 1800
        wm_delay_ms = 3600 * 1000  # stateful_funnel's watermark="1 hour"
        range_dir = os.path.join(work, "range_chunks")
        # n_chunks RANGE chunks: splits need visitors silent across >= 2
        # chunk boundaries (a timer can only fire in a batch where the
        # visitor has no data), so the chunk span sets the observable gap
        # scale — 48 chunks over the 30-day fixture = ~15 h spans against
        # a ~10.7 h mean intra-visitor gap -> plenty of real 2+-segment
        # visitors (the first draft used 3 chunks = 10-day spans and got
        # ZERO splits: per-segment equality held but vacuously)
        fracs = [k / n_chunks for k in range(1, n_chunks)]
        n_rows, bounds = write_range_chunks(
            spark, fixture, range_dir, fractions=fracs
        )
        # ADVICE r13: Spark retains only numRecentProgressUpdates progress
        # entries (default 100) — with n_chunks near or past that, early
        # batches fall off recentProgress and the schedule audit fails
        # spuriously. Raise the retention to cover every batch (+ sentinel
        # + empty-trigger slack) BEFORE the query starts.
        spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates",
            str(len(bounds) + 1 + 16),
        )
        stream = events_stream_from_chunks(spark, range_dir, max_files=1)
        wall, q = drain(stateful_funnel(stream, steps, ttl_s=ttl_s))

        # determinism audit: the file source must have fed one chunk per
        # batch in time order, or the simulated watermark schedule is not
        # the one the query saw
        progress = [
            json.loads(p.json if hasattr(p, "json") else p)
            for p in q.recentProgress
        ]
        batch_rows = [int(p["numInputRows"]) for p in progress]
        import pyarrow.parquet as pq  # chunk row counts, cheap metadata read

        chunk_files = sorted(
            f for f in os.listdir(range_dir) if f.endswith(".parquet")
        )
        chunk_rows = [
            pq.ParquetFile(os.path.join(range_dir, f)).metadata.num_rows
            for f in chunk_files
        ]
        schedule_ok = [r for r in batch_rows if r > 0] == chunk_rows

        # --- batch simulation of the forced schedule -------------------
        # Watermark during batch b = max event ms over chunks < b, minus
        # the delay (EventTimeStats maxes in ms, floor'd from us). A
        # visitor's state can only expire in a batch where they have NO
        # data, so with per-visitor present chunks ci < cj (consecutive),
        # a segment boundary falls between them iff cj >= ci+2 (at least
        # one fully quiet batch) AND last_ms(ci) + ttl < W[cj-2] - delay,
        # where W is the running per-chunk max (the largest watermark any
        # quiet batch before cj could carry). GroupStateImpl fires timers
        # STRICTLY below the watermark; the operator set the timeout to
        # last_event_ms + ttl (time-ordered chunks keep the event time
        # ahead of the lagging watermark, so the max() never binds).
        ev = events_from_fixture(spark, fixture)
        ms = F.unix_millis("event_time")
        kcol = F.lit(0)
        for i, bnd in enumerate(bounds):
            kcol = F.when(
                F.unix_micros("event_time") >= bnd, i + 1
            ).otherwise(kcol)
        evc = ev.withColumn("__k", kcol)
        emax = {
            r["__k"]: int(r["m"])
            for r in evc.groupBy("__k").agg(F.max(ms).alias("m")).collect()
        }
        running, w_list = 0, []
        for k in range(len(bounds) + 1):
            running = max(running, emax.get(k, 0))
            w_list.append(running)
        w_arr = F.array(*[F.lit(x) for x in w_list])
        pc = evc.groupBy("visitorid", "__k").agg(
            F.max(ms).alias("__last_ms"),
            F.count("*").alias("__n"),
            *[
                F.min(F.when(F.col("event") == s, F.col("event_time"))).alias(
                    f"__m{i}"
                )
                for i, s in enumerate(steps)
            ],
        )
        wv = Window.partitionBy("visitorid").orderBy("__k")
        prev_k = F.lag("__k").over(wv)
        prev_last = F.lag("__last_ms").over(wv)
        # element_at is 1-based: index __k-1 reads W[__k-2]; guarded so the
        # first-chunk row (prev null) never evaluates index 0 under ANSI
        w_before = F.when(
            F.col("__k") >= 2, F.element_at(w_arr, F.col("__k") - 1)
        )
        split = F.coalesce(
            prev_k.isNotNull()
            & (F.col("__k") >= prev_k + 2)
            & (prev_last + ttl_s * 1000 < w_before - wm_delay_ms),
            F.lit(False),
        )
        seg = pc.withColumn(
            "__seg",
            F.sum(split.cast("int")).over(
                wv.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        n_split = seg.filter("__seg > 0").select("visitorid").distinct().count()
        mins = seg.groupBy("visitorid", "__seg").agg(
            *[F.min(f"__m{i}").alias(f"__m{i}") for i in range(len(steps))],
            F.sum("__n").alias("n_events"),
        )
        k = F.lit(0)
        for i in range(len(steps)):
            ok = F.col(f"__m{i}").isNotNull() & (
                F.lit(True)
                if i == 0
                else F.col(f"__m{i}") >= F.col(f"__m{i-1}")
            )
            k = F.when((k == i) & ok, i + 1).otherwise(k)
        oracle = mins.select(
            "visitorid",
            k.cast("int").alias("steps_reached"),
            F.slice(
                F.array(*[F.col(f"__m{i}") for i in range(len(steps))]),
                F.lit(1),
                k.cast("int"),
            ).alias("step_times"),
            "n_events",
        )
        streamed = (
            spark.read.parquet(sink_dir)
            .filter(F.col("visitorid") != SENTINEL_VISITOR)
            .filter(F.col("expired"))
        )
        cols = ["visitorid", "steps_reached", "step_times", "n_events"]
        s, b = streamed.select(cols), oracle.select(cols)
        extra, missing = s.exceptAll(b).count(), b.exceptAll(s).count()
        n_segments = b.count()
        n_visitors = ev.select("visitorid").distinct().count()
        equal = extra == 0 and missing == 0 and schedule_ok and n_split > 0
        detail = {
            "steps": steps,
            "ttl_s": ttl_s,
            "n_range_chunks": len(bounds) + 1,
            "forced_schedule_held": schedule_ok,
            "visitors": n_visitors,
            "multi_segment_visitors": n_split,
            "segments_simulated": n_segments,
            "segments_compared": s.count(),
            "rows_only_in_stream": extra,
            "rows_only_in_batch": missing,
        }
    else:
        raise SystemExit(f"unknown op {op!r}")

    n_batches, state_rows, state_mem = _progress_stats(q)
    artifact = {
        "operator": op,
        "fixture": fixture,
        "events": n_rows,
        "files_per_trigger": files_per_trigger,
        "micro_batches": n_batches,
        "wall_sec": round(wall, 2),
        "events_per_sec": round(n_rows / wall, 1),
        "batch_oracle_equal": equal,
        "state_store_max_rows": state_rows,
        "state_store_max_bytes": state_mem,
        "detail": detail,
        "method": (
            f"{op} (applyInPandasWithState, update mode) over a time-ordered "
            f"parquet chunk stream, maxFilesPerTrigger={files_per_trigger}, "
            "availableNow drain; foreachBatch parquet sink stamped with "
            "batch_id; final state = max-batch_id row per key; equality vs "
            "the batch closed form on the same fixture"
        ),
    }
    _append_run(out_path, artifact)
    assert equal, f"stream/batch mismatch for {op}: {detail}"


if __name__ == "__main__":
    main()
