"""NiFi-stage semantics (`/root/reference/clickstream_project.xml`): the
event_category inversion (view = LOW value, xml:1017-1018), UTC timestamp
formatting (xml:1021-1022), epoch-ms retention (xml:1025-1026), and the
empty-string quarantine routing (xml:1113-1114)."""

from __future__ import annotations

from clickestream_project_bigdata_spark.operators.cleanse import (
    canonicalize,
    cleanse_raw_events,
)


def _raw(spark, rows):
    return spark.createDataFrame(
        rows,
        "timestamp long, visitorid string, event string, itemid string, transactionid string",
    )


def test_event_category_view_is_low_value(spark):
    df = _raw(
        spark,
        [
            (1433175000000, "1", "view", "42", None),
            (1433175000000, "1", "addtocart", "42", None),
            (1433175000000, "1", "transaction", "42", "7"),
        ],
    )
    out = cleanse_raw_events(df).valid
    got = {r.event: r.event_category for r in out.collect()}
    assert got == {
        "view": "Low Value",
        "addtocart": "High Value",
        "transaction": "High Value",
    }


def test_timestamp_reformat_utc_and_unix_retention(spark):
    # 1433175000000 ms = 2015-06-01 16:10:00 UTC
    df = _raw(spark, [(1433175000000, "1", "view", "42", None)])
    r = cleanse_raw_events(df).valid.collect()[0]
    assert r.timestamp == "2015-06-01 16:10:00"
    assert r.unix_timestamp == 1433175000000


def test_quarantine_routing(spark):
    df = _raw(
        spark,
        [
            (1433175000000, "", "view", "42", None),   # empty visitorid -> quarantine
            (1433175000000, "1", "view", "", None),    # empty itemid -> quarantine
            (1433175000000, "2", "view", None, None),  # NULL itemid passes (regex can't match absent field)
            (1433175000000, "3", "view", "42", None),
        ],
    )
    res = cleanse_raw_events(df)
    assert {r.visitorid for r in res.valid.collect()} == {"2", "3"}
    assert res.quarantine.count() == 2


def test_csv_scan_to_canonical_pipeline(spark, tmp_path):
    """S1: RetailRocket-shaped CSV → typed scan → cleanse → canonical schema
    (the reference iterates rows in Python, `producer.py:28-34`; here the
    scan is distributed and schema-typed at the source)."""
    from clickestream_project_bigdata_spark.operators.cleanse import (
        canonicalize,
        cleanse_raw_events,
    )
    from clickestream_project_bigdata_spark.sources.readers import read_raw_events_csv

    p = tmp_path / "events.csv"
    p.write_text(
        "timestamp,visitorid,event,itemid,transactionid\n"
        "1700000000000,7,view,10,\n"
        "1700000060000,7,transaction,10,555\n"
    )
    raw = read_raw_events_csv(spark, str(p))
    assert raw.schema["timestamp"].dataType.simpleString() == "bigint"
    out = canonicalize(cleanse_raw_events(raw).valid)
    rows = {r["event"]: r for r in out.collect()}
    assert rows["view"]["event_category"] == "Low Value"
    assert rows["transaction"]["transactionid"] == 555
    assert rows["view"]["event_time"].isoformat() == "2023-11-14T22:13:20"


def test_canonicalize_types(spark):
    df = _raw(spark, [(1433175000123, "1", "view", "42", "7")])
    wire = cleanse_raw_events(df).valid
    out = canonicalize(wire)
    r = out.collect()[0]
    assert out.schema["event_time"].dataType.simpleString() == "timestamp"
    assert r.visitorid == 1 and r.itemid == 42 and r.transactionid == 7
    # reference derivation (`stream_processor.py:69`): ms/1000 is DOUBLE
    # division, so the sub-second part survives the cast to timestamp
    assert r.event_time.isoformat() == "2015-06-01T16:10:00.123000"
    assert r.unix_timestamp == 1433175000123



def _plan_nodes(plan) -> list[str]:
    """Class names of every node of a Catalyst plan, root first."""
    names = [plan.getClass().getSimpleName()]
    children = plan.children()
    for i in range(children.size()):
        names += _plan_nodes(children.apply(i))
    return names


def test_typed_ids_quarantine_plans_no_scan(spark, tmp_path):
    """N6 on the typed CSV path: a long id can never be "", so the
    quarantine optimizes to an empty LocalRelation that scans nothing, and
    the valid side carries no filter."""
    from clickestream_project_bigdata_spark.sources.readers import read_raw_events_csv

    p = tmp_path / "events.csv"
    p.write_text(
        "timestamp,visitorid,event,itemid,transactionid\n"
        "1700000000000,7,view,10,\n"
        "1700000060000,7,transaction,,555\n"
    )
    res = cleanse_raw_events(read_raw_events_csv(spark, str(p)))
    quarantine = res.quarantine._jdf.queryExecution()
    assert _plan_nodes(quarantine.optimizedPlan()) == ["LocalRelation"]
    assert quarantine.optimizedPlan().data().isEmpty()
    assert "FileScan" not in quarantine.executedPlan().toString()
    assert "Filter" not in _plan_nodes(res.valid._jdf.queryExecution().optimizedPlan())
    assert res.quarantine.count() == 0
    assert res.valid.count() == 2
