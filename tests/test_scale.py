"""Scale utilities: salted join correctness, bucketed write/scan, SQL views,
and streaming late-data semantics (T7)."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from clickestream_project_bigdata_spark.operators import analytics
from clickestream_project_bigdata_spark.plans import (
    register_views,
    salted_join,
    write_bucketed,
)


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [(k, i) for k in ("hot", "cold") for i in range(50 if k == "hot" else 2)],
        "k string, v long",
    )
    right = spark.createDataFrame([("hot", 1.0), ("cold", 2.0)], "k string, w double")
    plain = left.join(right, "k").select("k", "v", "w")
    salted = salted_join(left, right, "k", salt_buckets=4).select("k", "v", "w")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_spreads_hot_key(spark):
    left = spark.createDataFrame([("hot", i) for i in range(200)], "k string, v long")
    right = spark.createDataFrame([("hot", 1.0)], "k string, w double")
    salts = (
        left.withColumn("__salt", (F.rand(seed=42) * 4).cast("int"))
        .select("__salt")
        .distinct()
        .count()
    )
    assert salts > 1  # the hot key really lands in multiple buckets
    assert salted_join(left, right, "k", salt_buckets=4).count() == 200


def test_bucketed_write_joins_without_exchange(spark, tmp_path):
    # warehouse dir is a static conf — the session factory points it at /tmp
    a = spark.range(0, 1000).withColumn("k", F.col("id") % 100)
    b = spark.range(0, 100).withColumnRenamed("id", "k").withColumn("w", F.lit(1.0))
    write_bucketed(a, "t_a", "k", num_buckets=8)
    write_bucketed(b, "t_b", "k", num_buckets=8)
    joined = spark.table("t_a").join(spark.table("t_b"), "k")
    # disable broadcast so the bucketed co-location is what avoids the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("drop table if exists t_a")
        spark.sql("drop table if exists t_b")


def test_register_views_sql_surface(spark, make_events):
    events = make_events(
        [
            (1, "2024-01-01T00:00:00", "view", 10),
            (1, "2024-01-01T00:00:30", "click", 10),
            (2, "2024-01-01T00:01:00", "view", 11),
        ]
    )
    names = register_views(spark, events)
    assert "sessions" in names and "bounce_rate" in names
    assert spark.sql("select count(*) c from sessions").first()["c"] == 2
    top = spark.sql(
        "select itemid, interaction_count from item_interactions order by itemid"
    ).collect()
    assert [(r["itemid"], r["interaction_count"]) for r in top] == [(10, 2), (11, 1)]


def test_windowed_counts_drop_late_events(spark, tmp_path):
    """T7: with a watermark, an event older than (max event time − delay)
    arriving in a later micro-batch is dropped from the aggregation."""
    import json
    import os

    from clickestream_project_bigdata_spark.operators.analytics import (
        events_per_minute,
    )
    from clickestream_project_bigdata_spark.operators.cleanse import canonicalize
    from clickestream_project_bigdata_spark.sources.readers import read_json_stream

    BASE_MS = 1700000000000

    def rec(v, off_s):
        return {
            "timestamp": "x", "visitorid": str(v), "event": "view",
            "itemid": "1", "transactionid": None, "event_category": "x",
            "unix_timestamp": str(BASE_MS + off_s * 1000),
        }

    src = tmp_path / "late_src"
    src.mkdir()
    # the late-record FILTER uses the start-of-batch watermark, which lags
    # the end-of-batch (eviction) watermark by one batch. So: seed the
    # window (b0), advance event time twice (b1, b2) — the first-minute
    # window is evicted/emitted by b2 and the filter watermark is high by
    # b3, whose straggler is then provably dropped.
    batches = [
        [rec(1, 0)],
        [rec(1, 3600)],
        [rec(1, 7200)],
        [rec(2, 30)],  # 30s-old: behind the (3600-600)s filter watermark → dropped
    ]
    for i, b in enumerate(batches):
        p = src / f"b{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in b))
        os.utime(p, (1_000_000 + i, 1_000_000 + i))

    stream = canonicalize(read_json_stream(spark, str(src), max_files=1))
    q = (
        events_per_minute(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_counts")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from late_counts").collect()
    # the first minute closed with ONLY visitor 1's event; visitor
    # 2's late event neither resurrected it nor produced a second row
    import datetime as dt

    first_minute = [
        r for r in rows if r["minute"] == dt.datetime(2023, 11, 14, 22, 13)
    ]
    assert len(first_minute) == 1
    assert first_minute[0]["events_count"] == 1


def _drain_windowed(spark, tmp_path, op, name):
    """Run a minute-grain analysis over the standard 4-batch late-data feed."""
    import json
    import os

    from clickestream_project_bigdata_spark.operators.cleanse import canonicalize
    from clickestream_project_bigdata_spark.sources.readers import read_json_stream

    BASE_MS = 1700000000000

    def rec(v, off_s, item="1"):
        return {
            "timestamp": "x", "visitorid": str(v), "event": "view",
            "itemid": item, "transactionid": None, "event_category": "x",
            "unix_timestamp": str(BASE_MS + off_s * 1000),
        }

    src = tmp_path / f"{name}_src"
    src.mkdir()
    batches = [
        [rec(1, 0, "7"), rec(1, 10, "7"), rec(2, 30, "8")],  # minute 0: v1 ×2, v2 ×1
        [rec(1, 3600)],
        [rec(1, 7200)],
        [rec(3, 20, "7")],  # straggler into minute 0 → must be dropped
    ]
    for i, b in enumerate(batches):
        p = src / f"b{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in b))
        os.utime(p, (1_000_000 + i, 1_000_000 + i))

    stream = canonicalize(read_json_stream(spark, str(src), max_files=1))
    q = (
        op(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def test_windowed_bounce_rate_streaming_and_late_data(spark, tmp_path):
    """Chained stateful aggregation: the first minute closes with v1 (2
    events, not a bounce) and v2 (1 event, bounce); the late v3 event
    neither resurrects the window nor changes the published row. Values
    match the batch operator on the in-time events."""
    import datetime as dt

    from clickestream_project_bigdata_spark.operators.analytics import bounce_rate

    rows = _drain_windowed(spark, tmp_path, bounce_rate, "wbr")
    first = [r for r in rows if r["minute"] == dt.datetime(2023, 11, 14, 22, 13)]
    assert len(first) == 1
    r = first[0]
    assert (r["bounces"], r["total_users"], r["bounce_rate"]) == (1, 2, 0.5)


def test_windowed_top_items_streaming_and_late_data(spark, tmp_path):
    import datetime as dt

    from clickestream_project_bigdata_spark.operators.analytics import top_items

    rows = _drain_windowed(spark, tmp_path, top_items, "wti")
    first = {
        r["itemid"]: r["interactions"]
        for r in rows
        if r["minute"] == dt.datetime(2023, 11, 14, 22, 13)
    }
    assert first == {7: 2, 8: 1}  # the late item-7 event is not counted


@pytest.mark.parametrize(
    "op, value_col, want",
    [
        (analytics.events_per_minute, "events_count", 3),
        (analytics.event_type_distribution, "event_count", 3),  # all views
        (functools.partial(analytics.active_users, exact=False), "active_users", 2),
    ],
    ids=["events_per_minute", "event_type_distribution", "active_users"],
)
def test_minute_analyses_streaming_and_late_data(spark, tmp_path, op, value_col, want):
    """The other minute-grain analyses run on the same stream unchanged:
    the first minute is appended once, with the in-time events only (the
    late v3 event is dropped). ``active_users`` streams as its sketch."""
    import datetime as dt

    rows = _drain_windowed(spark, tmp_path, op, f"wma_{value_col}")
    first = [r for r in rows if r["minute"] == dt.datetime(2023, 11, 14, 22, 13)]
    assert len(first) == 1
    assert first[0][value_col] == want


def test_write_clustered_disjoint_file_ranges(spark, tmp_path):
    """Each clustered output file must own a disjoint key range (footer
    min/max stats disjoint => predicate pruning touches ~one file)."""
    import glob

    from clickestream_project_bigdata_spark.plans.scale import write_clustered
    from clickestream_project_bigdata_spark.sources.readers import events_from_fixture

    ev = events_from_fixture(spark, "/root/testdata/sf0.001")
    path = str(tmp_path / "clustered")
    write_clustered(ev, path, ["event_time"], num_files=8)
    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        part = spark.read.parquet(f)
        row = part.selectExpr("min(event_time) AS lo", "max(event_time) AS hi").collect()[0]
        if row.lo is not None:
            ranges.append((row.lo, row.hi))
    ranges.sort()
    assert len(ranges) >= 4  # range partitioner actually spread the data
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (boundary equality allowed)
    # row preservation
    assert spark.read.parquet(path).count() == ev.count()


def test_write_zordered_bounds_all_dimensions(spark, tmp_path):
    """Z-order layout: EVERY z-column's per-file min/max range must be a
    bounded fraction of its global range (range-clustering on one key
    leaves the other column spanning ~100% per file); rows preserved."""
    import glob

    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.plans.scale import (
        write_clustered,
        write_zordered,
    )

    # two independent uniform dimensions — the worst case for single-key
    # clustering, the motivating case for the Morton curve
    n = 4096
    df = spark.range(n).select(
        (F.xxhash64("id") % 1000).alias("a"),
        (F.xxhash64("id", F.lit(1)) % 1000).alias("b"),
    ).select(F.abs("a").alias("a"), F.abs("b").alias("b"))
    zpath = str(tmp_path / "zordered")
    write_zordered(df, zpath, ["a", "b"], num_files=16)

    def per_file_spans(path, col):
        spans = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            r = spark.read.parquet(f).selectExpr(
                f"min({col}) lo", f"max({col}) hi", "count(*) c"
            ).collect()[0]
            if r.c:
                spans.append((r.hi - r.lo) / 1000.0)
        return spans

    za, zb = per_file_spans(zpath, "a"), per_file_spans(zpath, "b")
    assert len(za) >= 8
    # 16 files over a 2-D curve -> each file covers ~1/4 of each dimension;
    # allow generous slack (curve boundaries are jagged)
    assert sum(za) / len(za) < 0.6 and sum(zb) / len(zb) < 0.6
    assert spark.read.parquet(zpath).count() == n
    assert set(spark.read.parquet(zpath).columns) == {"a", "b"}

    # control: single-key range clustering leaves dimension b unbounded
    cpath = str(tmp_path / "clustered_a")
    write_clustered(df, cpath, ["a"], num_files=16)
    cb = per_file_spans(cpath, "b")
    assert sum(cb) / len(cb) > 0.9  # ~full span of b in every file


def test_write_partitioned_prunes_directories(spark, tmp_path):
    """A filter on the partition column must prune at planning time
    (PartitionFilters on the scan) and read only the matching directory's
    rows; directory layout is day=... Hive-style."""
    import glob

    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.plans.scale import write_partitioned
    from clickestream_project_bigdata_spark.sources.readers import events_from_fixture

    ev = events_from_fixture(spark, "/root/testdata/sf0.001").withColumn(
        "day", F.to_date("event_time")
    )
    path = str(tmp_path / "parted")
    write_partitioned(ev, path, ["day"])
    assert glob.glob(f"{path}/day=*"), "hive-style partition dirs expected"

    back = spark.read.parquet(path)
    one_day = back.filter(F.col("day") == "2024-01-03")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan, plan
    # pruned read returns exactly that day's rows
    want = ev.filter(F.col("day") == "2024-01-03").count()
    assert want > 0 and one_day.count() == want
    # compact=True: one file per partition directory (small-files guard)
    for d in glob.glob(f"{path}/day=*"):
        assert len(glob.glob(f"{d}/part-*.parquet")) == 1


def test_materialize_once_reliable_checkpoint_computes_once(spark, tmp_path):
    """ADVICE r5 (medium): with a checkpoint dir configured, materialize_once
    must take the RELIABLE-checkpoint path and compute the upstream exactly
    ONCE (persist → eager checkpoint → unpersist), not re-run the lineage in
    the checkpoint-write job. An accumulator inside a mapInPandas stage
    counts computation passes per partition-batch."""
    from clickestream_project_bigdata_spark.plans.scale import materialize_once

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # engine default: local fallback
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        acc = sc.accumulator(0)

        def bump(batches):
            for pdf in batches:
                acc.add(1)
                yield pdf

        df = spark.range(0, 8, 1, 2)  # tiny: exactly 1 arrow batch/partition
        out = materialize_once(df.mapInPandas(bump, df.schema))
        assert acc.value == 2  # eager: computed at call, once per partition
        assert out.count() == 8
        assert out.count() == 8  # re-action reads checkpoint files
        assert acc.value == 2    # ... without recomputing the lineage
        ids1 = [r.pid for r in out.selectExpr("spark_partition_id() AS pid").collect()]
        ids2 = [r.pid for r in out.selectExpr("spark_partition_id() AS pid").collect()]
        assert ids1 == ids2  # stable partition ids across actions
    finally:
        # restore "no checkpoint dir" so other tests keep the local path
        # (no public unset API; reach the Scala var through py4j)
        scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)
        assert sc.getCheckpointDir() is None
