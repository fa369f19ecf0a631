"""Streaming-at-scale replay (VERDICT r8 #4): push an events fixture through
the native session-window sessionizer as a REAL multi-batch file stream
(50+ micro-batches), assert cross-batch session totals equal the batch
oracle, and record throughput + state-store telemetry for SCALING.md.

This is the reference's actual operating mode
(`/root/reference/stream_processor.py:400-406` — a long-lived micro-batch
loop) at a scale the reference never reached (its producer throttles to
~10 events/s; `/root/reference/producer.py:14` implies ~76 h for the full
dataset).

Usage: python tools/stream_scale.py [fixture_dir] [out_json] [n_chunks] [files_per_trigger]
       defaults: /tmp/scale10x STREAM_SCALE.json 60 1
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
    sentinel["event_time"] = (
        sentinel["event_time"] + __import__("pandas").Timedelta(days=30)
    ).astype("datetime64[us, UTC]")
    time.sleep(0.002)
    pq.write_table(
        pa.Table.from_pandas(sentinel, preserve_index=False),
        os.path.join(chunks_dir, f"chunk_{n_chunks:05d}_sentinel.parquet"),
    )
    return n


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


if __name__ == "__main__":
    main()
