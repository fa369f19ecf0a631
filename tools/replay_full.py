"""Full-dataset replay demo (VERDICT r8 #2, BASELINE.md's stated target):
the reference's ENTIRE 2,756,101-event dataset through all 10 analyses,
unthrottled, wall-clock measured in minutes — against the reference's
~76.6 h implied replay (its producer throttles to 10 events/s:
`/root/reference/producer.py:13-14`, 2,756,101 × 0.1 s).

The events fixture is derived at exactly the reference's row count
(2,756,101) by replicating sf0.1's 100k events with shifted
visitor/event ids (the make_scale10x scheme) and truncating — same
schema, same skew profile, reference cardinality.

All 10 analyses run through the REAL driver (`streaming/driver.py`,
`run_all_analyses`, the concurrent per-batch fan-out) with a real
ParquetSink — every sink lands on disk, nothing is a noop — in one timed
call.

Usage: python tools/replay_full.py [out_json] [rows]
       defaults: REPLAY_FULL.json 2756101
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REF_ROWS = 2_756_101
SRC = "/root/testdata/sf0.1/events.parquet"


def build_fixture(path: str, rows: int) -> None:
    """events.parquet at exactly `rows` rows: replicate sf0.1's events with
    shifted visitorid/event_id (each replica a disjoint id range, like
    tools/make_scale10x.py), truncate to the target count."""
    import duckdb

    con = duckdb.connect()
    (n_src,) = con.sql(f"SELECT COUNT(*) FROM '{SRC}'").fetchone()
    (v_max,) = con.sql(f"SELECT MAX(user_id) FROM '{SRC}'").fetchone()
    (e_max,) = con.sql(f"SELECT MAX(event_id) FROM '{SRC}'").fetchone()
    reps = (rows + n_src - 1) // n_src
    union = " UNION ALL ".join(
        f"SELECT event_id + {r * (e_max + 1)} AS event_id, ts, "
        f"user_id + {r * (v_max + 1)} AS user_id, event_type, value, props "
        f"FROM '{SRC}'"
        for r in range(reps)
    )
    con.sql(
        f"COPY (SELECT * FROM ({union}) LIMIT {rows}) TO '{path}' (FORMAT PARQUET)"
    )


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "REPLAY_FULL.json"
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else REF_ROWS

    work = "/tmp/replay_full"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    fixture = os.path.join(work, "fixture")
    os.makedirs(fixture)
    build_fixture(os.path.join(fixture, "events.parquet"), rows)

    from clickestream_project_bigdata_spark.session import get_spark
    from clickestream_project_bigdata_spark.sources.readers import (
        events_from_fixture,
    )
    from clickestream_project_bigdata_spark.streaming.driver import (
        run_all_analyses,
    )
    from clickestream_project_bigdata_spark.streaming.sinks import ParquetSink

    spark = get_spark("replay_full")
    spark.sparkContext.setLogLevel("ERROR")

    events = events_from_fixture(spark, fixture)
    n = events.count()  # also warms the parquet reader, untimed below
    assert n == rows, (n, rows)

    sink_dir = os.path.join(work, "sinks")
    t0 = time.time()
    run_all_analyses(events, 0, ParquetSink(sink_dir))
    wall = round(time.time() - t0, 2)
    tables = sorted(os.listdir(sink_dir))
    assert len(tables) == 10, tables
    print(f"{wall}s, sinks={tables}", flush=True)

    ref_hours = rows * 0.1 / 3600
    artifact = {
        "events": rows,
        "wall_sec": wall,
        "wall_min": round(wall / 60, 2),
        "reference_implied_hours": round(ref_hours, 1),
        "speedup_vs_reference_floor": round(ref_hours * 3600 / wall, 0),
        "method": (
            "run_all_analyses (streaming/driver.py) over the full "
            f"{rows:,}-event fixture as one unthrottled batch; all 10 "
            "sinks are REAL parquet writes; reference baseline = its own "
            "producer throttle (0.1 s/event, producer.py:13-14)"
        ),
    }
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps(artifact))


if __name__ == "__main__":
    main()
