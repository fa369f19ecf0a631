"""Lineage cutting for frames that several consumers read.

:func:`materialize_once` computes a frame once and hands every consumer the
stored result, so a multi-consumer operator does not re-run its input's
lineage per consumer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_once(df: DataFrame) -> DataFrame:
    """Cut a multi-consumer frame's lineage without pinning a session-long
    cache entry (``persist()`` would sit in the cacheManager until an
    explicit ``unpersist`` that a lazily-returning operator can never
    safely time — its caller decides when the result is consumed).

    * With a SparkContext checkpoint directory configured (production:
      HDFS/S3 via ``sc.setCheckpointDir``), uses a RELIABLE checkpoint —
      partitions survive executor loss and dynamic-allocation scale-in.
      Spark writes reliable checkpoint files by re-running the lineage in
      a SECOND job unless the blocks are already cached, so this path
      persists first, checkpoints eagerly (one compute; the checkpoint
      write job reads the cached blocks), then releases the cache — the
      checkpoint files back the returned frame from then on. Eager here is
      deliberate: it is the only point where "computed exactly once" can
      be guaranteed without the caller owning an unpersist.
      NB Spark only DELETES reliable checkpoint files when
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (the
      engine's session factory sets it; default Spark leaves them on disk
      for the life of the cluster — an unbounded leak for repeated calls).
    * Otherwise falls back to ``localCheckpoint`` (lazy): blocks live only
      on executors and are dropped by the ContextCleaner when the frame is
      released, but a lost executor makes them unrecoverable — fine in
      ``local[*]`` tests/benchmarks, NOT fault-tolerant on a real cluster.
      localCheckpoint caches internally, so it never double-computes.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        df = df.persist()
        try:
            out = df.checkpoint(eager=True)
        finally:
            df.unpersist()
        return out
    return df.localCheckpoint(eager=False)
