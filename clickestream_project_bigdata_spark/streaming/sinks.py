"""Pluggable sinks for the per-batch analysis fan-out.

The reference hard-codes ten ``df.write.jdbc(..., mode="append")`` calls to
PostgreSQL (`stream_processor.py:131-136` and nine siblings). Here a sink is
an injected strategy so the same driver runs against JDBC, Parquet, console,
or an in-memory store (tests). JDBC append is at-least-once under retries
(the reference's duplicates-on-replay problem, SURVEY §4); the Parquet sink
gets idempotence by writing batch-id-keyed partitions, and the JDBC sink
documents the upsert contract.
"""

from __future__ import annotations

import threading
from typing import Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType


class Sink(Protocol):
    """``run_all_analyses`` calls ``write`` concurrently for different tables
    of one batch, so an implementation must be thread-safe."""

    def write(self, df: DataFrame, table: str, batch_id: int | None = None) -> None: ...


class JdbcSink:
    """`df.write.jdbc` per output table — the reference's sink (S6).

    ``idempotent=False`` reproduces reference semantics: plain
    ``mode="append"``, which is at-least-once — a retried foreachBatch
    duplicates rows (the reference's known flaw,
    `stream_processor.py:131-136`, SURVEY §4).

    ``idempotent=True`` is the engine's fix — **batch-keyed
    delete-and-insert through a staging table**:

    1. the batch (stamped with a ``batch_id`` column) is written by the
       executors to ``<table>__staging`` with ``mode="overwrite"`` — scratch
       space, safe to clobber on retry;
    2. the target table is created empty on first use (Spark's own DDL
       mapping, ``mode="ignore"`` with a LIMIT-0 frame);
    3. one driver-side JDBC transaction atomically publishes:
       ``DELETE FROM t WHERE batch_id = N; INSERT INTO t SELECT * FROM
       staging; COMMIT``.

    A replayed batch deletes exactly its own previous rows before
    re-inserting them — effectively-once, any number of retries, on any
    JDBC backend with transactional DDL-free DML (Postgres/MySQL/Derby).
    The Spark executors never need cross-partition transactions; atomicity
    lives in the single final publish statement pair.
    """

    def __init__(
        self,
        url: str,
        properties: dict[str, str],
        idempotent: bool = False,
        array_mode: str = "native",
    ):
        self.url = url
        self.properties = properties
        self.idempotent = idempotent
        #: "native" maps array columns through the JDBC dialect (Postgres —
        #: the reference's target — supports them); "json" serializes them
        #: to JSON strings for backends without array types (MySQL, Derby).
        self.array_mode = array_mode

    def write(self, df: DataFrame, table: str, batch_id: int | None = None) -> None:
        if self.array_mode == "json":
            for field in df.schema.fields:
                if isinstance(field.dataType, ArrayType):
                    df = df.withColumn(field.name, F.to_json(F.col(field.name)))
        if not self.idempotent or batch_id is None:
            df.write.jdbc(url=self.url, table=table, mode="append", properties=self.properties)
            return

        if "batch_id" not in df.columns:
            df = df.withColumn("batch_id", F.lit(int(batch_id)))
        staging = f"{table}__staging"
        df.write.jdbc(url=self.url, table=staging, mode="overwrite", properties=self.properties)
        # ensure the target exists with the same Spark-generated schema
        df.limit(0).write.jdbc(url=self.url, table=table, mode="ignore", properties=self.properties)
        self._publish(df.sparkSession, table, staging, int(batch_id))

    def _publish(self, spark, table: str, staging: str, batch_id: int) -> None:
        """One transaction on one driver-side connection: delete this
        batch's previous rows (no-op on first delivery), insert the staged
        rows, commit. The identifiers come from our own sink call sites and
        batch_id is an int — nothing user-controlled is interpolated."""
        jvm = spark._jvm
        driver = self.properties.get("driver")
        if driver:
            jvm.java.lang.Class.forName(driver)
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            # Spark's JDBC writer creates columns as QUOTED (case-sensitive)
            # identifiers; quote to match (ANSI — Derby/Postgres; MySQL needs
            # ANSI_QUOTES). Table names are passed through unquoted, same as
            # Spark does.
            st.executeUpdate(f'DELETE FROM {table} WHERE "batch_id" = {batch_id}')
            st.executeUpdate(f"INSERT INTO {table} SELECT * FROM {staging}")
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()


class ParquetSink:
    """Idempotent file sink: one directory per (table, batch_id),
    ``<table>/batch_id=N``; a retried batch replaces that directory and
    leaves every other batch's untouched."""

    def __init__(self, base_path: str):
        self.base_path = base_path

    def write(self, df: DataFrame, table: str, batch_id: int | None = None) -> None:
        if batch_id is None:
            df.write.mode("append").parquet(f"{self.base_path}/{table}")
            return
        df.write.mode("overwrite").parquet(f"{self.base_path}/{table}/batch_id={batch_id}")


class ConsoleSink:
    """Debug tap (reference `consumer.py:10-19` / S7). Thread-safe: the
    fan-out writes concurrently, so header and table print under one lock
    and never interleave with another table's."""

    def __init__(self) -> None:
        self._lock = threading.Lock()

    def write(self, df: DataFrame, table: str, batch_id: int | None = None) -> None:
        with self._lock:
            print(f"=== {table} (batch {batch_id}) ===")
            df.show(20, truncate=False)


class NoopSink:
    """Benchmark sink: full distributed materialization of every analysis
    (Spark's `noop` source executes the plan and discards rows) with zero
    I/O cost — isolates compute + shuffle time."""

    def write(self, df: DataFrame, table: str, batch_id: int | None = None) -> None:
        df.write.format("noop").mode("overwrite").save()


class MemorySink:
    """Test sink: collects every batch's rows per table (thread-safe — the
    fan-out writes the tables of one batch concurrently)."""

    def __init__(self) -> None:
        self.tables: dict[str, list] = {}
        self._lock = threading.Lock()

    def write(self, df: DataFrame, table: str, batch_id: int | None = None) -> None:
        rows = df.collect()
        with self._lock:
            self.tables.setdefault(table, []).extend(rows)

    def rows(self, table: str) -> list:
        return self.tables.get(table, [])
