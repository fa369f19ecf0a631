"""Cross-engine ("portable") hash primitives.

The sketch operators (MinHash, SimHash, KMV) default to ``xxhash64`` — the
fastest JVM-side hash — but xxhash64 exists only in Spark, so sketches built
on it cannot be replayed by an independent SQL engine. Every primitive here
is md5-derived and reproducible bit-for-bit in Spark, DuckDB, and plain
Python (verified by tests):

* ``phash60(x)``  = first 15 hex digits of ``md5(x)`` as a non-negative
  60-bit integer. Spark: ``conv(substr(md5(x),1,15),16,10)``; DuckDB:
  ``('0x' || substr(md5(x),1,15))::BIGINT``; Python:
  ``int(hashlib.md5(x).hexdigest()[:15], 16)``.
* MinHash permutations: ``g_j(h) = (a_j·(h mod p) + b_j) mod p`` with
  ``p = 2³¹−1`` — products stay < 2⁶², so ANSI-mode Spark, DuckDB and
  int64 numpy all evaluate them exactly (no wrap-around needed).

Everything is seeded and versioned by the string prefixes below; changing a
prefix is a format break.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31 − 1: the modulus of the portable MinHash permutation
#: family. Small enough that a_j·h never overflows int64 in ANSI mode.
P31 = 2_147_483_647

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


@lru_cache(maxsize=None)
def minhash_seeds(num_hashes: int, seed: int = 7) -> tuple[tuple[int, ...], tuple[int, ...]]:
    """Deterministic (a_j, b_j) coefficient vectors for the permutation
    family, themselves derived from phash60 so every engine (and the oracle
    SQL generator) can reproduce them from the seed alone."""
    a = tuple(phash60_py(f"mh-a:{seed}:{j}") % (P31 - 1) + 1 for j in range(num_hashes))
    b = tuple(phash60_py(f"mh-b:{seed}:{j}") % P31 for j in range(num_hashes))
    return a, b
