"""Gaps-and-islands sessionization (SURVEY §2.6, W1-W7).

Semantics pinned to the reference (`/root/reference/stream_processor.py:79-138`):

* per-visitor window ordered by event time (W1);
* gap = ``unix_timestamp(event_time) - unix_timestamp(prev)`` — i.e. the
  difference of **second-floored** epochs (W4, `stream_processor.py:88-91`);
* new session iff first event or gap **strictly >** ``gap_seconds`` (default
  1800 s = 30 min; W5, `stream_processor.py:95-101`);
* session ordinal = running sum of the flag (W6), session_id =
  ``concat_ws("_", visitorid, session_number)`` (W7).

Scale notes (100 TB): the two window functions and the session aggregate all
share ``partitionBy(visitorid)`` — Catalyst plans ONE exchange on visitorid
and reuses the sort, so the whole operator is a single shuffle. Visitor keys
are high-cardinality and individually small (a human's clickstream), so there
is no skew pathology; AQE coalesces the post-shuffle partitions. For streams,
`streaming/sessions.py` offers native ``session_window`` with watermarking
(cross-batch-correct), which this batch form is the oracle for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_SECONDS = 1800


def sessionize(events: DataFrame, gap_seconds: int = DEFAULT_GAP_SECONDS) -> DataFrame:
    """Assign ``session_number`` / ``session_id`` to every event row.

    Input needs ``visitorid`` and ``event_time`` columns; all other columns
    pass through untouched.
    """
    w = Window.partitionBy("visitorid").orderBy("event_time")
    w_running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    gap = F.unix_timestamp("event_time") - F.unix_timestamp(
        F.lag("event_time").over(w)
    )
    is_new = (
        F.when(F.lag("event_time").over(w).isNull(), F.lit(1))
        .when(gap > gap_seconds, F.lit(1))
        .otherwise(F.lit(0))
    )
    return (
        events.withColumn("is_new_session", is_new)
        .withColumn("session_number", F.sum("is_new_session").over(w_running))
        .withColumn(
            "session_id", F.concat_ws("_", F.col("visitorid"), F.col("session_number"))
        )
        .drop("is_new_session")
    )


def session_metrics(sessionized: DataFrame) -> DataFrame:
    """Session-level rollup (`stream_processor.py:117-128`): start/end/count
    plus ``session_length`` in (floored-epoch) seconds."""
    return (
        sessionized.groupBy("session_id", "visitorid")
        .agg(
            F.min("event_time").alias("session_start"),
            F.max("event_time").alias("session_end"),
            F.count("*").alias("events_in_session"),
        )
        .withColumn(
            "session_length",
            F.unix_timestamp("session_end") - F.unix_timestamp("session_start"),
        )
    )

