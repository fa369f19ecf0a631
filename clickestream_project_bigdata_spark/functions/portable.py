"""Cross-engine ("portable") hash primitives.

``xxhash64`` is the fastest JVM-side hash, but it exists only in Spark, so a
sketch built on it (the KMV distinct-count estimate of
``analytics.active_users_kmv``) cannot be replayed by an independent SQL
engine. The hash here is md5-derived and reproducible bit-for-bit in Spark,
DuckDB, and plain Python (verified by tests):

* ``phash60(x)``  = first 15 hex digits of ``md5(x)`` as a non-negative
  60-bit integer. Spark: ``conv(substr(md5(x),1,15),16,10)``; DuckDB:
  ``('0x' || substr(md5(x),1,15))::BIGINT``; Python:
  ``int(hashlib.md5(x).hexdigest()[:15], 16)``.

Changing the digest or its width is a format break.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Range of phash60 — 60 bits.
PHASH60_MAX = 1 << 60


def phash60(col: Column) -> Column:
    """Portable 60-bit hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def phash60_sql(expr: str) -> str:
    """The same hash in DuckDB SQL over ``expr``."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def phash60_py(s: str) -> int:
    """The same hash in plain Python (for fixture generation / tests)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

