"""Record cleansing / enrichment — the NiFi stage as DataFrame ops.

Reproduces SURVEY §2.2 (N1-N6) semantics from the reference NiFi template
(`/root/reference/clickstream_project.xml`):

* N3 `event_category`: ``view`` → ``'Low Value'``, anything else →
  ``'High Value'`` (yes, views are LOW value — `clickstream_project.xml:1017-1018`).
* N4 timestamp reformat: epoch-ms → ``yyyy-MM-dd HH:mm:ss`` **UTC**
  (`clickstream_project.xml:1021-1022`).
* N5 keep the original epoch-ms as ``unix_timestamp``
  (`clickstream_project.xml:1025-1026`).
* N6 validity routing: records with empty-string ``visitorid`` or ``itemid``
  are quarantined, not dropped silently (`clickstream_project.xml:1113-1114`);
  typed (numeric) ids can never be empty, so on typed input the quarantine
  plans no scan at all.

Everything is built-in Catalyst expressions — whole-stage codegen, no UDFs.
At 100 TB this stage is a single narrow map over the scan (no shuffle).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def event_category_col(event: Column) -> Column:
    """NiFi UpdateRecord N3 (`clickstream_project.xml:1017-1018`)."""
    return F.when(event == "view", F.lit("Low Value")).otherwise(F.lit("High Value"))


def is_invalid_record(df_cols: DataFrame) -> Column:
    """NiFi RouteOnContent N6 predicate (`clickstream_project.xml:1113-1114`):
    the regex fires on an empty-string visitorid or itemid in the JSON body.
    NULLs pass through (the regex cannot match an absent field).

    Only a non-numeric id can be empty: a number never casts to ``""``, so
    on a numeric id column the test is the literal ``False``. On typed input
    (``read_raw_events_csv``'s long ids) the whole predicate is ``False``,
    and Catalyst prunes the quarantine side to an empty relation that scans
    nothing and drops the valid side's filter. The string (JSON wire) path
    keeps the ``""`` test."""
    # NULL-safe: a NULL field can't match the empty-string regex, so NULLs
    # are valid (three-valued logic would otherwise drop them from BOTH sides).
    invalid = F.lit(False)
    for c in ("visitorid", "itemid"):
        if not isinstance(df_cols.schema[c].dataType, T.NumericType):
            invalid = invalid | F.col(c).cast("string").eqNullSafe("")
    return invalid


@dataclass(frozen=True)
class CleanseResult:
    valid: DataFrame
    quarantine: DataFrame


def cleanse_raw_events(raw: DataFrame) -> CleanseResult:
    """Raw (epoch-ms long timestamp) records → cleansed wire-equivalent rows,
    with the invalid side routed to a quarantine frame (reference dead-letters
    to LogMessage, `clickstream_project.xml:729`).

    Output matches the reference wire record (`stream_processor.py:41-49`):
    formatted ``timestamp`` string, original ms in ``unix_timestamp``, plus
    ``event_category``.
    """
    enriched = (
        raw.withColumn("unix_timestamp", F.col("timestamp").cast("long"))
        .withColumn(
            "timestamp",
            F.date_format(F.timestamp_millis(F.col("unix_timestamp")), "yyyy-MM-dd HH:mm:ss"),
        )
        .withColumn("event_category", event_category_col(F.col("event")))
    )
    invalid = is_invalid_record(enriched)
    return CleanseResult(valid=enriched.filter(~invalid), quarantine=enriched.filter(invalid))


def canonicalize(wire: DataFrame) -> DataFrame:
    """Wire (all-strings) record → canonical typed schema.

    The reference re-types lazily per query (`stream_processor.py:68-70`:
    string → long → /1000 → timestamp). We cast once here; every operator
    downstream sees typed columns, so Catalyst folds/pushes predicates on
    them.

    ``try_cast``, not ``cast``: under ANSI mode (Spark 4 default) a plain
    cast THROWS on malformed input, so one type-drifted record (e.g. an
    ``itemid`` of ``"n/a"`` under the reference's infer-schema front door)
    would fail the whole job at 100 TB. The ingest boundary's documented
    semantics are malformed → NULL; drop/quarantine decisions belong to
    validity routing, not to a crash.
    """
    return wire.select(
        F.col("visitorid").try_cast("long").alias("visitorid"),
        F.col("event").alias("event"),
        # try_cast on BOTH hops: a validly-long epoch that is out of
        # timestamp range (e.g. microseconds sent where millis belong)
        # must also degrade to NULL, not throw under ANSI
        (F.col("unix_timestamp").try_cast("long") / 1000)
        .try_cast("timestamp")
        .alias("event_time"),
        F.col("itemid").try_cast("long").alias("itemid"),
        F.col("transactionid").try_cast("long").alias("transactionid"),
        F.col("event_category").alias("event_category"),
        F.col("unix_timestamp").try_cast("long").alias("unix_timestamp"),
    )
