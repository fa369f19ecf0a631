"""The micro-batch analysis driver — reference `run_all_analyses` re-expressed.

The reference (`/root/reference/stream_processor.py:385-398`) runs 10 analyses
per micro-batch inside ``foreachBatch``, each ending in its own JDBC write.
Two deliberate improvements over the reference, both flagged in SURVEY §3.3/§4:

* the sessionized frame feeds three sinks (sessions, user_paths,
  funnel_analysis) — the reference recomputes its lineage three times (no
  cache); we ``persist()`` it once and unpersist after the fan-out. Both
  caches hold only the four columns the analyses read (:data:`BATCH_COLUMNS`,
  :data:`SESSION_COLUMNS`), not the seven canonical and nine sessionized
  ones;
* sinks are injected (`streaming/sinks.py`) instead of hard-coded JDBC, so
  the same driver runs in tests (MemorySink), local files (ParquetSink), or
  production (JdbcSink).

Fan-out contract (T1): each batch writes the reference's ten tables
(events_per_minute, active_users, event_type_distribution, top_items,
bounce_rate, sessions, user_paths, funnel_analysis, item_interactions,
most_viewed_items), submitted as concurrent Spark jobs over the shared
persisted frames. The thread pool is sized by the session's
``defaultParallelism``; every pool task inherits the caller's local
properties and job tags (the streaming query's job group among them), so
``query.stop()`` cancels its jobs and per-thread job labels still apply.
Sinks must accept concurrent ``write`` calls.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.util import inheritable_thread_target

from ..operators import analytics
from ..operators.sessionize import DEFAULT_GAP_SECONDS, session_metrics, sessionize
from .sessions import DEFAULT_WATERMARK, stateful_session_metrics
from .sinks import Sink

#: the columns of ``batch_df`` the seven batch-fed analyses and
#: ``sessionize`` read; the batch cache holds these alone
BATCH_COLUMNS = ("visitorid", "event", "event_time", "itemid")
#: the columns of the sessionized frame the three session-fed analyses read
SESSION_COLUMNS = ("visitorid", "event", "event_time", "session_id")


def run_all_analyses(
    batch_df: DataFrame,
    batch_id: int,
    sink: Sink,
    *,
    funnel_steps: list[str] | None = None,
) -> None:
    """One micro-batch through all 10 analyses (reference
    `stream_processor.py:385-398`). ``batch_df`` is canonical-schema events.

    Per-batch sessionization reproduces reference semantics (T6): sessions
    spanning micro-batches are split and ordinals restart per batch. The
    cross-batch-correct alternative is `streaming/sessions.py`.

    The ten writes run as concurrent Spark jobs: the plans share nothing but
    the two persisted frames, so overlapping them hides scheduler and sink
    latency. Each cache holds only the columns its analyses read
    (:data:`BATCH_COLUMNS` of ``batch_df``, :data:`SESSION_COLUMNS` of the
    sessionized frame); other input columns never reach memory.
    ``batch_df`` is materialized once up front; the sessionized
    cache fill runs as a pool task overlapped with the seven batch-fed
    writes, and the three session-fed writes are submitted the moment it
    completes (measured 2.49 s -> 2.06 s at sf0.1 on 32 cores). The first
    failure is re-raised after every submitted task has finished, and both
    caches are released either way.
    """
    batch_df = batch_df.select(*BATCH_COLUMNS).persist()
    try:
        sessionized = sessionize(batch_df, DEFAULT_GAP_SECONDS).select(*SESSION_COLUMNS).persist()
        try:
            steps = funnel_steps or analytics.DEFAULT_FUNNEL_STEPS
            funnel = (
                analytics.funnel_analysis(sessionized, steps)
                .withColumn("batch_id", F.lit(batch_id))
                .withColumn("analysis_time", F.current_timestamp())
                .select("batch_id", "analysis_time", *steps)
            )
            batch_fed: list[tuple[DataFrame, str]] = [
                (analytics.events_per_minute(batch_df), "events_per_minute"),
                (analytics.active_users(batch_df), "active_users"),
                (analytics.event_type_distribution(batch_df), "event_type_distribution"),
                (analytics.top_items(batch_df), "top_items"),
                (analytics.bounce_rate(batch_df), "bounce_rate"),
                (analytics.item_interactions(batch_df), "item_interactions"),
                (analytics.most_viewed_items(batch_df), "most_viewed_items"),
            ]
            session_fed: list[tuple[DataFrame, str]] = [
                (session_metrics(sessionized), "sessions"),
                (analytics.user_paths(sessionized), "user_paths"),
                (funnel, "funnel_analysis"),
            ]
            batch_df.count()
            spark = batch_df.sparkSession
            with ThreadPoolExecutor(
                max_workers=spark.sparkContext.defaultParallelism
            ) as pool:

                def submit(fn, *args):
                    # each task gets its own copy of the caller's local
                    # properties and tags: Spark mutates them in place per
                    # job (the SQL execution id), so tasks must not share one
                    return pool.submit(inheritable_thread_target(spark)(fn), *args)

                sess_ready = submit(sessionized.count)
                futures = [submit(sink.write, df, t, batch_id) for df, t in batch_fed]
                sess_ready.result()  # cache filled; propagate failure
                futures += [submit(sink.write, df, t, batch_id) for df, t in session_fed]
                for f in futures:
                    f.result()  # propagate the first failure
        finally:
            sessionized.unpersist()
    finally:
        batch_df.unpersist()


def run_pipeline(
    raw_df: DataFrame,
    batch_id: int,
    sink: Sink,
    *,
    funnel_steps: list[str] | None = None,
) -> None:
    """The WHOLE reference pipeline for one batch of *raw* records
    (epoch-ms long timestamps, pre-NiFi shape): cleanse + enrich (NiFi
    stage, §2.2) with the invalid side written to the ``quarantine`` table
    (S8 — the reference dead-letters to a log), then canonical typing, then
    the 10-analysis fan-out. One call replaces Kafka→NiFi→Kafka→Spark.
    On typed (numeric-id) input the quarantine is an empty relation that
    scans nothing (:func:`~..operators.cleanse.is_invalid_record`)."""
    from ..operators.cleanse import canonicalize, cleanse_raw_events

    result = cleanse_raw_events(raw_df)
    sink.write(result.quarantine, "quarantine", batch_id)
    run_all_analyses(
        canonicalize(result.valid), batch_id, sink, funnel_steps=funnel_steps
    )


def start_stateful_sessions(
    events: DataFrame,
    sink: Sink,
    checkpoint_location: str,
    *,
    watermark: str = DEFAULT_WATERMARK,
    available_now: bool = False,
) -> StreamingQuery:
    """Production driver for the FIXED sessionization mode: the native
    floored-second ``session_window`` aggregation
    (:func:`~.sessions.stateful_session_metrics`) emits each session exactly
    once when it closes (watermark past last event + gap), and foreachBatch
    hands those closed sessions to the injected sink — contrast with the
    per-batch mode in :func:`run_all_analyses`, which reproduces the
    reference's split-session semantics (T6)."""
    closed = stateful_session_metrics(events, DEFAULT_GAP_SECONDS, watermark)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        sink.write(batch_df, "sessions", batch_id)

    return _start_foreach_batch(closed, _write, checkpoint_location, available_now)


def start_stream(
    events: DataFrame,
    sink: Sink,
    checkpoint_location: str,
    *,
    funnel_steps: list[str] | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Wire a canonical-schema streaming DataFrame into the 10-analysis
    fan-out (reference `stream_processor.py:400-406`).

    ``available_now=True`` drains all currently-available input and stops —
    the batch-replay / test mode (the reference has no equivalent; it relies
    on a human Ctrl-C).

    For at-least-once sources, compose the ingest guard in front:
    ``start_stream(dedup_events_stream(events, within="1 hour"), ...)``.
    """

    def _batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        run_all_analyses(batch_df, batch_id, sink, funnel_steps=funnel_steps)

    return _start_foreach_batch(events, _batch_fn, checkpoint_location, available_now)


def _start_foreach_batch(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_location: str,
    available_now: bool,
) -> StreamingQuery:
    """Start ``stream`` as an append-mode ``foreachBatch`` query calling
    ``batch_fn``; ``available_now`` drains the available input and stops."""
    writer = (
        stream.writeStream.foreachBatch(batch_fn)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_location)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
