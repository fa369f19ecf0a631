"""SparkSession factory tuned for the clickstream engine.

The reference (`/root/reference/stream_processor.py:31-33`) builds a bare
session with no tuning. At 100 TB that is not acceptable, so the factory
bakes in the scale-relevant defaults:

* **AQE** (adaptive query execution) — runtime shuffle-partition coalescing,
  skew-join splitting, and dynamic join-strategy switching. On a 1000-executor
  cluster this is the single most important knob.
* **UTC session timezone** — the reference's NiFi stage formats timestamps in
  UTC (`clickstream_project.xml:1022`); pinning the session TZ makes
  `unix_timestamp` / `date_trunc` deterministic across drivers.
* **Arrow** for a caller's ``toPandas``; the package itself runs no pandas
  code and makes no ``DataFrame`` checkpoint.
* shuffle partition count from `SPARK_GRAFT_CPUS` (local testing) — on a real
  cluster you'd leave AQE to coalesce from a high initial count.
* a **generated-code cache** of 1000 classes. One ``run_pipeline`` pass
  needs about 89 generated classes, and Spark's default cache holds 100
  split into 4 LRU segments of 25, so every pass re-compiled 14–23 classes
  that were byte-identical to the previous pass's, and the JIT re-warmed
  them from the interpreter. With 1000 entries a pass after the first
  compiles only what its literals change (the funnel's
  ``current_timestamp()``). The cache is sized once per JVM from a static
  SQL conf, so it can only be set when the session is built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "ClickstreamAnalytics"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    In tests / local runs ``master`` defaults to ``local[N]``; on a cluster
    pass ``master=None`` with a pre-set spark.master (spark-submit) and the
    builder leaves it untouched.
    """
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ and not SparkSession.getActiveSession():
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 100 TB scans: bound per-task input so partitions fit executor memory.
        "spark.sql.files.maxPartitionBytes": "256m",
        # ... and the inverse guard for SMALL-bytes / heavy-compute scans
        # (explode-amplified work): aim for >= one split per core even
        # when the input is a few MB, instead of the
        # default 4 MB open-cost floor that funnels a small file into ONE
        # task while every core idles. Splits land on parquet row-group
        # boundaries, so this composes with multi-row-group files (real
        # lakes) — a single-row-group file remains unsplittable by format.
        "spark.sql.files.minPartitionNum": str(cpus),
        "spark.sql.files.openCostInBytes": "65536",
        # Broadcast threshold: small build sides (per-key aggregates, lookup
        # sets, one-row query sides) stay broadcastable; AQE upgrades to
        # broadcast at runtime as well.
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.parquet.aggregatePushdown": "true",
        # static: the per-batch working set (~89 classes) must fit the
        # code cache, or each pass recompiles what LRU evicted
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": "/tmp/spark-warehouse",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
