"""Negative-path ingest tests for the NiFi-parity boundary (VERDICT r5 #3).

The reference's NiFi JSON reader runs with ``schema-access-strategy =
infer-schema`` (`/root/reference/clickstream_project.xml:605`), so malformed
payloads, non-array bodies, and mid-stream type drift are all *possible*
inputs at the front door. These tests pin what the engine does with each:

* malformed / non-array payloads through ``explode_json_array`` (NiFi
  SplitJson N1) parse to NULL and contribute zero rows — they never crash
  the stream;
* mid-stream type drift (``itemid`` numeric → string) is absorbed by the
  all-strings wire schema (the same trick the reference's Spark job uses,
  `stream_processor.py:41-49`) and re-typed once at ``canonicalize``;
* the empty-string-vs-NULL distinction in ``is_invalid_record`` matches the
  NiFi RouteOnContent regex (`clickstream_project.xml:1113-1114`): the regex
  fires on an explicit ``""`` only — an absent/NULL field cannot match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickestream_project_bigdata_spark.operators.cleanse import (
    canonicalize,
    cleanse_raw_events,
    is_invalid_record,
)
from clickestream_project_bigdata_spark.schema import WIRE_EVENT_SCHEMA
from clickestream_project_bigdata_spark.sources.readers import (
    explode_json_array,
    read_raw_events_json,
)


def _payload_df(spark, payload: str):
    return spark.createDataFrame([(payload,)], "value string")


def test_non_array_payload_parses_as_singleton(spark):
    """SplitJson `$[*]` on a single object (not an array): NiFi would route
    the flowfile to failure; Spark's from_json(ArrayType) instead wraps a
    lone object into a 1-element array (documented permissive behavior).
    Pinned here as a KNOWN divergence — the record is salvaged, not
    dropped, which is the more useful semantics for a lossy front door."""
    obj = '{"visitorid": "1", "event": "view", "itemid": "9"}'
    rows = explode_json_array(_payload_df(spark, obj)).collect()
    assert len(rows) == 1
    assert rows[0].visitorid == "1" and rows[0].itemid == "9"


def test_truncated_json_array_yields_no_rows(spark):
    """A syntactically broken array (truncated mid-record) parses to NULL
    as a whole — no partial rows are emitted from the readable prefix."""
    broken = '[{"visitorid": "1", "event": "view"}, {"visitorid": "2", '
    assert explode_json_array(_payload_df(spark, broken)).count() == 0


def test_valid_array_still_explodes_per_element(spark):
    """Control: the happy path emits one wire row per array element."""
    ok = (
        '[{"visitorid": "1", "event": "view", "itemid": "9"},'
        ' {"visitorid": "2", "event": "addtocart", "itemid": "9"}]'
    )
    rows = explode_json_array(_payload_df(spark, ok)).collect()
    assert [r.visitorid for r in rows] == ["1", "2"]


def test_type_drift_numeric_then_string_itemid(spark, tmp_path):
    """infer-schema would flip types mid-stream; the all-strings wire schema
    absorbs the drift: numeric JSON values land as their text form."""
    p = tmp_path / "drift.jsonl"
    p.write_text(
        '{"visitorid": "1", "event": "view", "itemid": 42, "unix_timestamp": 1000}\n'
        '{"visitorid": "2", "event": "view", "itemid": "43", "unix_timestamp": "2000"}\n'
    )
    rows = (
        read_raw_events_json(spark, str(p))
        .orderBy("visitorid")
        .select("itemid", "unix_timestamp")
        .collect()
    )
    assert [r.itemid for r in rows] == ["42", "43"]
    assert [r.unix_timestamp for r in rows] == ["1000", "2000"]


def test_type_drift_non_numeric_becomes_null_at_canonicalize(spark):
    """Drift past anything castable ("n/a" itemid) survives the wire but
    re-types to NULL at the single canonicalize boundary — operators never
    see a string-typed itemid."""
    wire = spark.createDataFrame(
        [("2024", "7", "view", "n/a", None, "Low Value", "1700000000000")],
        WIRE_EVENT_SCHEMA,
    )
    row = canonicalize(wire).collect()[0]
    assert row.itemid is None
    assert row.visitorid == 7


def test_empty_string_id_quarantined_null_id_kept(spark):
    """The RouteOnContent regex fires on explicit "" only: empty-string
    visitorid/itemid → quarantine; NULL (absent field) → valid."""
    raw = spark.createDataFrame(
        [
            (1000, "", "view", "9", None),      # empty visitorid → invalid
            (1000, "1", "view", "", None),      # empty itemid → invalid
            (1000, None, "view", "9", None),    # NULL visitorid → valid
            (1000, "2", "view", None, None),    # NULL itemid → valid
            (1000, "3", "view", "9", None),     # fully populated → valid
        ],
        "timestamp long, visitorid string, event string, itemid string, transactionid string",
    )
    res = cleanse_raw_events(raw)
    assert res.quarantine.count() == 2
    valid_ids = {r.visitorid for r in res.valid.collect()}
    assert valid_ids == {None, "2", "3"}


def test_missing_fields_parse_as_null_and_stay_valid(spark, tmp_path):
    """A record missing itemid entirely (common under infer-schema) parses
    with NULL itemid and passes validity routing."""
    p = tmp_path / "missing.jsonl"
    p.write_text('{"visitorid": "5", "event": "view", "unix_timestamp": "1000"}\n')
    df = read_raw_events_json(spark, str(p))
    row = df.collect()[0]
    assert row.itemid is None
    assert df.filter(is_invalid_record(df)).count() == 0


def test_corrupt_json_line_yields_all_null_row(spark, tmp_path):
    """PERMISSIVE mode (Spark default): an unparseable line becomes an
    all-NULL row rather than failing the job — and, matching the NiFi
    regex semantics, an all-NULL row is NOT quarantined (no "" match).
    Pipelines that need to surface these route on
    `every wire column IS NULL` explicitly."""
    p = tmp_path / "corrupt.jsonl"
    p.write_text(
        'not json at all\n'
        '{"visitorid": "1", "event": "view", "itemid": "9"}\n'
    )
    df = read_raw_events_json(spark, str(p))
    assert df.count() == 2
    all_null = df.filter(
        F.coalesce(*[F.col(f.name) for f in WIRE_EVENT_SCHEMA.fields]).isNull()
    )
    assert all_null.count() == 1
    assert df.filter(is_invalid_record(df)).count() == 0


def test_empty_payload_and_empty_array(spark):
    """Degenerate payloads: empty string and empty array both contribute
    zero rows without erroring."""
    assert explode_json_array(_payload_df(spark, "")).count() == 0
    assert explode_json_array(_payload_df(spark, "[]")).count() == 0


def test_out_of_range_epoch_degrades_to_null(spark):
    """A validly-long epoch beyond timestamp range (micros sent where
    millis belong, scaled to overflow) must yield NULL event_time, not an
    ANSI cast error (code-review r6 finding)."""
    from clickestream_project_bigdata_spark.operators.cleanse import canonicalize

    wire = spark.createDataFrame(
        [
            ("ignored", "1", "view", "5", None, "Low Value", "300000000000000000"),
            ("ignored", "2", "view", "6", None, "Low Value", "1700000000000"),
        ],
        "timestamp string, visitorid string, event string, itemid string, "
        "transactionid string, event_category string, unix_timestamp string",
    )
    rows = {r.visitorid: r for r in canonicalize(wire).collect()}
    assert rows[1].event_time is None  # overflowed -> NULL, no crash
    assert rows[2].event_time is not None
