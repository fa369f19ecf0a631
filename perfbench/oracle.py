"""Output checks, computed independently in DuckDB.

Each table is reduced to (row count, order-independent value hash): every
row is normalised to plain integers / strings, hashed, and the hashes are
summed. The engine's output and the DuckDB reference go through the same
normalising SQL, so equal pairs mean equal multisets of rows.
"""

from __future__ import annotations

import duckdb

#: the 10 analysis tables ``streaming.driver.run_all_analyses`` writes
TABLES = (
    "events_per_minute",
    "active_users",
    "event_type_distribution",
    "top_items",
    "bounce_rate",
    "sessions",
    "user_paths",
    "funnel_analysis",
    "item_interactions",
    "most_viewed_items",
)

_MS = "round(epoch_us({c}) / 1000.0)::BIGINT"
_MIN = "(epoch_us({c}) // 60000000)::BIGINT"

#: per table: the normalised column list over an output relation
_NORM = {
    "events_per_minute": f"{_MIN.format(c='minute')}, events_count::BIGINT",
    "active_users": f"{_MIN.format(c='minute')}, active_users::BIGINT",
    "event_type_distribution": f"{_MIN.format(c='minute')}, event, event_count::BIGINT",
    "top_items": f"{_MIN.format(c='minute')}, itemid::BIGINT, interactions::BIGINT",
    "bounce_rate": (
        f"{_MIN.format(c='minute')}, bounces::BIGINT, total_users::BIGINT, "
        "round(bounce_rate, 9)"
    ),
    "sessions": (
        f"session_id, visitorid::BIGINT, {_MS.format(c='session_start')}, "
        f"{_MS.format(c='session_end')}, events_in_session::BIGINT, session_length::BIGINT"
    ),
    "user_paths": "visitorid::BIGINT, session_id, user_path",
    "funnel_analysis": '"view"::BIGINT, addtocart::BIGINT, "transaction"::BIGINT',
    "item_interactions": "itemid::BIGINT, interaction_count::BIGINT",
    "most_viewed_items": "itemid::BIGINT, view_count::BIGINT",
}


def _digest(con, relation: str, cols: str) -> tuple[int, int]:
    n, h = con.sql(
        f"SELECT count(*), coalesce(sum(hash({cols}))::HUGEINT, 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    con.sql("SET TimeZone = 'UTC'")
    return con


def _reference_views(con, events_sql: str) -> None:
    """Views ``ref_<table>`` computing the 10 analyses from ``events_sql``,
    a relation of (ms BIGINT epoch millis, visitorid, event, itemid)."""
    con.sql(f"CREATE OR REPLACE TEMP VIEW ev AS SELECT ms, visitorid, event, itemid, "
            "make_timestamp(ms * 1000) AS minute_src FROM (" + events_sql + ")")
    con.sql("CREATE OR REPLACE TEMP VIEW evm AS SELECT *, "
            "date_trunc('minute', minute_src) AS minute FROM ev")
    con.sql(
        """CREATE OR REPLACE TEMP TABLE sess AS
        WITH g AS (
          SELECT *, ms // 1000 AS sec,
                 lag(ms // 1000) OVER (PARTITION BY visitorid ORDER BY ms) AS prev
          FROM ev),
        f AS (SELECT *, CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END AS nw FROM g)
        SELECT *, sum(nw) OVER (PARTITION BY visitorid ORDER BY ms
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sn
        FROM f"""
    )
    views = {
        "events_per_minute": "SELECT minute, count(*) AS events_count FROM evm GROUP BY 1",
        "active_users": "SELECT minute, count(DISTINCT visitorid) AS active_users FROM evm GROUP BY 1",
        "event_type_distribution": "SELECT minute, event, count(*) AS event_count FROM evm GROUP BY 1, 2",
        "top_items": "SELECT minute, itemid, count(*) AS interactions FROM evm GROUP BY 1, 2",
        "bounce_rate": """SELECT minute, sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS bounces,
                count(*) AS total_users,
                sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / count(*) AS bounce_rate
            FROM (SELECT minute, visitorid, count(*) AS c FROM evm GROUP BY 1, 2) GROUP BY 1""",
        "sessions": """SELECT visitorid || '_' || sn AS session_id, visitorid,
                make_timestamp(min(ms) * 1000) AS session_start,
                make_timestamp(max(ms) * 1000) AS session_end,
                count(*) AS events_in_session,
                max(sec) - min(sec) AS session_length
            FROM sess GROUP BY visitorid, sn""",
        "user_paths": """SELECT visitorid, visitorid || '_' || sn AS session_id,
                array_to_string(list(event ORDER BY ms, event), ',') AS user_path
            FROM sess GROUP BY visitorid, sn""",
        "funnel_analysis": """SELECT sum(v) AS "view", sum(a) AS addtocart, sum(t) AS "transaction"
            FROM (SELECT max(CASE WHEN event = 'view' THEN 1 ELSE 0 END) AS v,
                         max(CASE WHEN event = 'addtocart' THEN 1 ELSE 0 END) AS a,
                         max(CASE WHEN event = 'transaction' THEN 1 ELSE 0 END) AS t
                  FROM sess GROUP BY visitorid, sn)""",
        "item_interactions": "SELECT itemid, count(*) AS interaction_count FROM ev GROUP BY 1",
        "most_viewed_items": "SELECT itemid, count(*) AS view_count FROM ev WHERE event = 'view' GROUP BY 1",
    }
    for t, q in views.items():
        con.sql(f"CREATE OR REPLACE TEMP VIEW ref_{t} AS {q}")


def replay_reference(csv_path: str) -> dict[str, tuple[int, int]]:
    """(count, hash) per analysis table for one batch over ``events.csv``,
    plus the quarantine row count (records with an empty id)."""
    con = _connect()
    try:
        con.sql(
            f"""CREATE TEMP TABLE raw AS SELECT * FROM read_csv('{csv_path}', header = true,
                columns = {{'timestamp': 'BIGINT', 'visitorid': 'BIGINT', 'event': 'VARCHAR',
                           'itemid': 'BIGINT', 'transactionid': 'BIGINT'}})"""
        )
        _reference_views(con, "SELECT timestamp AS ms, visitorid, event, itemid FROM raw")
        out = {t: _digest(con, f"ref_{t}", _NORM[t]) for t in TABLES}
        out["quarantine"] = (0, 0)
        return out
    finally:
        con.close()


def parquet_output(base: str, batch_id: int = 0) -> dict[str, tuple[int, int]]:
    """(count, hash) per table of a ``ParquetSink`` batch partition."""
    con = _connect()
    try:
        out = {}
        for t in TABLES:
            rel = f"read_parquet('{base}/{t}/batch_id={batch_id}/*.parquet')"
            cols = _NORM[t]
            if t == "user_paths":
                cols = "visitorid::BIGINT, session_id, array_to_string(user_path, ',')"
            out[t] = _digest(con, rel, cols)
        (n,) = con.sql(
            f"SELECT count(*) FROM read_parquet('{base}/quarantine/batch_id={batch_id}/*.parquet')"
        ).fetchone()
        out["quarantine"] = (int(n), 0)
        return out
    finally:
        con.close()


def stateful_reference(chunks_glob: str, exclude_visitor: int) -> tuple[int, int]:
    """Gaps-and-islands sessions (gap strictly > 1800 s on floored seconds)
    over the chunk events, the sentinel visitor excluded; (count, hash) of
    the ``streaming.stateful.SESSION_SCHEMA`` rows."""
    con = _connect()
    try:
        return _digest(
            con,
            f"""(WITH e AS (SELECT visitorid, epoch_us(event_time) AS us
                       FROM read_parquet('{chunks_glob}') WHERE visitorid <> {exclude_visitor}),
                 g AS (SELECT *, us // 1000000 AS sec,
                              lag(us // 1000000) OVER (PARTITION BY visitorid ORDER BY us) AS prev FROM e),
                 f AS (SELECT *, sum(CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END)
                              OVER (PARTITION BY visitorid ORDER BY us
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sn FROM g)
                 SELECT visitorid || '_' || min(sec) AS session_id, visitorid,
                        min(us) AS s_us, max(us) AS e_us, count(*) AS n, max(sec) - min(sec) AS len
                 FROM f GROUP BY visitorid, sn)""",
            "session_id, visitorid::BIGINT, s_us, e_us, n::BIGINT, len::BIGINT",
        )
    finally:
        con.close()


def stateful_output(base: str) -> tuple[int, int]:
    con = _connect()
    try:
        return _digest(
            con,
            f"read_parquet('{base}/sessions/*/*.parquet')",
            "session_id, visitorid::BIGINT, epoch_us(session_start), epoch_us(session_end), "
            "events_in_session::BIGINT, session_length::BIGINT",
        )
    finally:
        con.close()
