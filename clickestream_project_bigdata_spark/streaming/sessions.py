"""Cross-batch-correct streaming sessionization and windowed metrics.

The reference sessionizes **per micro-batch** (T6, SURVEY §2.10): a `Window`
over `batch_df` (`/root/reference/stream_processor.py:79-136`) means a session
spanning two micro-batches is split in half and the per-user session ordinal
restarts, producing duplicate ``session_id`` values across batches. It also
has no watermark (T4/T7) — unbounded lateness, unbounded state.

This module is the fixed design the reference could not express without
stateful streaming:

* :func:`stateful_session_metrics` — native ``session_window`` aggregation
  with a watermark. Spark's state store merges windows across micro-batches,
  so a session that straddles a batch boundary is ONE session. State per key
  is O(1) (start/end/count), evicted once the watermark passes — bounded
  memory at any scale.
* :func:`stateful_user_paths`, :func:`stateful_session_flags` and
  :func:`windowed_funnel` — the session-fed analyses over the same
  cross-batch sessions.

The other reference analyses have no streaming twin: the functions in
``operators/analytics.py`` run unchanged on a static frame or a stream. The
minute-grain ones carry their watermark on the floored minute, so a
minute's counts accumulate in state until the watermark passes it and are
then appended once (the reference recounts whatever happens to be in the
batch, so a late event creates a second partial row for the same minute).

Gap semantics: every session operator here goes through
:func:`_session_groups`, which runs ``session_window`` over ``event_time``
floored to the second. Spark merges session windows whose ranges touch
(``[t, t+gap]`` contains ``t+gap``), so on floored times a new session starts
exactly when the floored-second gap is strictly ``> gap`` — the batch
operator's predicate (`stream_processor.py:88-99`), including for sub-second
timestamps (00:00:00.100 → 00:30:00.900 is one session: its floored gap is
1800 s). Pinned by ``test_session_window_gap_boundary``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F

from ..operators.analytics import DEFAULT_FUNNEL_STEPS, step_flags
from ..operators.sessionize import DEFAULT_GAP_SECONDS

DEFAULT_WATERMARK = "1 hour"


def _session_groups(
    events: DataFrame, gap_seconds: int, watermark: str
) -> GroupedData:
    """Events grouped by (``session_window``, ``visitorid``) under the batch
    session rule. The window and the watermark sit on the second-floored
    event time (append mode rejects a watermark on the raw column once the
    window is over a derived one); aggregates still see the raw
    ``event_time``, so session bounds keep their µs precision."""
    floored = events.withColumn(
        "__t", F.date_trunc("second", "event_time")
    ).withWatermark("__t", watermark)
    return floored.groupBy(
        F.session_window("__t", f"{gap_seconds} seconds").alias("session_window"),
        "visitorid",
    )


def _session_id() -> Column:
    """Stable id: visitorid + "_" + session-start epoch seconds."""
    return F.concat_ws("_", F.col("visitorid"), F.unix_timestamp("session_start"))


def stateful_session_metrics(
    events: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Session metrics (same output schema as batch ``session_metrics``) via
    native session windows — correct across micro-batch boundaries.

    Output columns: visitorid, session_start, session_end, events_in_session,
    session_length (seconds, floored-epoch difference like the batch op).
    ``session_id`` is visitorid + "_" + session-start epoch — unlike the
    per-batch ordinal it is globally stable (no restart per batch).
    """
    # session_window.end = floored last event + gap; aggregate the true
    # event bounds so session_start/end/length match the batch operator.
    return (
        _session_groups(events, gap_seconds, watermark)
        .agg(
            F.min("event_time").alias("session_start"),
            F.max("event_time").alias("session_end"),
            F.count("*").alias("events_in_session"),
        )
        .select(
            _session_id().alias("session_id"),
            "visitorid",
            "session_start",
            "session_end",
            "events_in_session",
            (
                F.unix_timestamp("session_end") - F.unix_timestamp("session_start")
            ).alias("session_length"),
        )
    )


def stateful_user_paths(
    events: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming ``user_paths`` (reference `stream_processor.py:146-183`)
    over CROSS-BATCH-CORRECT sessions: collect the (event_time, event)
    structs per session window, sort, project the event names. One session
    → one appended row when the watermark closes it; the per-batch
    reference splits paths at batch boundaries (T6)."""
    return (
        _session_groups(events, gap_seconds, watermark)
        .agg(
            F.min("event_time").alias("session_start"),
            F.array_sort(
                F.collect_list(F.struct("event_time", "event"))
            ).alias("__path_structs"),
        )
        .select(
            "visitorid",
            _session_id().alias("session_id"),
            F.transform("__path_structs", lambda s: s["event"]).alias("user_path"),
        )
    )


def stateful_session_flags(
    events: DataFrame,
    steps: list[str] | None = None,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Per-closed-session funnel membership flags (the streaming form of the
    reference's funnel first phase, `stream_processor.py:195-212`): one
    appended row per session with a 0/1 column per step. The global batch
    funnel is the column-sum of this table — in streaming, sum it per
    session-start window (:func:`windowed_funnel`) or in the serving store
    (a global running aggregate cannot append)."""
    steps = steps or DEFAULT_FUNNEL_STEPS
    return (
        _session_groups(events, gap_seconds, watermark)
        .agg(F.min("event_time").alias("session_start"), *step_flags(steps))
        .select(_session_id().alias("session_id"), "visitorid", "session_start", *steps)
    )


def windowed_funnel(
    events: DataFrame,
    steps: list[str] | None = None,
    duration: str = "1 hour",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming funnel: per-session membership flags (session windows)
    rolled up per ``duration`` tumbling window of session time — the
    watermarked form of the reference's global per-batch funnel
    (`stream_processor.py:195-229`), with the batch grain replaced by an
    event-time grain.

    Chained stateful aggregation: the outer ``window()`` groups on the
    session_window STRUCT itself, which is how Spark propagates the
    event-time watermark across the two stateful operators (grouping on a
    derived min(event_time) column severs the lineage and append mode is
    rejected). The struct spans the floored session times, so a session
    falls in the tumbling window holding ``floor(last event) + gap - 1 µs``."""
    steps = steps or DEFAULT_FUNNEL_STEPS
    flags = _session_groups(events, gap_seconds, watermark).agg(*step_flags(steps))
    return (
        flags.groupBy(F.window(F.col("session_window"), duration).alias("w"))
        .agg(*[F.sum(s).cast("long").alias(s) for s in steps])
        .select(F.col("w.start").alias("window_start"), *steps)
    )


def dedup_events_stream(
    events: DataFrame,
    id_cols: tuple[str, ...] = ("visitorid", "event_time", "event", "itemid"),
    within: str = "1 hour",
) -> DataFrame:
    """At-least-once ingest dedup: drop redelivered events whose identity
    columns repeat within the watermark horizon (Kafka redeliveries, replay
    overlap). ``dropDuplicatesWithinWatermark`` keys the state store on
    ``id_cols`` and evicts each key once the watermark passes — bounded
    state, unlike a plain ``dropDuplicates`` whose state grows forever.
    In batch mode this degrades to ``dropDuplicates`` semantics on the same
    key.

    It composes with :func:`~.driver.start_stream`, whose ``foreachBatch``
    hands each analysis a static frame. It does NOT compose with a
    watermarked streaming aggregate downstream (the minute-grain analyses,
    the session operators here, :func:`windowed_funnel`): Spark rejects the
    second ``withWatermark`` with "Redefining watermark is disallowed"."""
    return events.withWatermark("event_time", within).dropDuplicatesWithinWatermark(
        list(id_cols)
    )

