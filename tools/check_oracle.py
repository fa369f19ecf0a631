"""Local pre-validation of __spark_entry__ queries vs their DuckDB oracles.

Mimics the driver's t2 gate: for each queries() entry with an oracle, run
both at the given SF and compare row count, column names, and
order-insensitive values (rows sorted under name-sorted columns).

Canonicalization is AT LEAST as strict as any plausible driver hasher
(VERDICT r6 #2): floats compare at FULL precision (repr / 17 significant
digits — shortest round-trip representation, so two doubles canon-equal
iff bit-equal up to -0.0/0.0), datetimes at microsecond precision with
the timezone preserved when present, Decimals exactly, and lists
element-wise under the same rules. An earlier version truncated floats
to %.10g, which could hide last-ULP divergence the driver would flag.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import glob
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from clickestream_project_bigdata_spark.session import get_spark  # noqa: E402


def _canon(v):
    """Canonicalize a scalar for comparison — full precision (see module doc)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:  # -0.0 == 0.0 but repr differs; hash them alike
            return "0.0"
        return repr(v)  # shortest round-trip: canon-equal iff bit-equal
    if hasattr(v, "isoformat"):  # datetime/date at full microsecond precision
        ts = v.isoformat()
        # normalize a UTC offset to a bare timestamp so a tz-aware Spark
        # result and a naive DuckDB one compare on the instant's wall time;
        # non-UTC offsets are kept (a genuine divergence must surface)
        return ts[:-6] if ts.endswith("+00:00") else ts
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


# Round-7 driver post-mortem: the only hash-fails in rounds 6-7 were oracles
# whose top-level integer SUM() DuckDB typed as HUGEINT (int128) — the
# driver's hasher is value-type-sensitive while the Python fetch path
# collapses int128 to int, making the divergence invisible locally.
# FAIL any oracle whose result schema contains such a type so the class can
# never be reintroduced (VERDICT r7 #1).
_BANNED_DUCK_TYPES = ("HUGEINT", "INT128", "UHUGEINT", "UINT128")


def _coarse(t: str) -> str:
    """Collapse a type name (DuckDB or Spark) to a comparison class."""
    t = t.upper()
    if "DECIMAL" in t:
        return "decimal"
    if any(x in t for x in ("HUGEINT", "INT128")):
        return "int128"
    if any(x in t for x in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "INT")):
        return "int"
    if any(x in t for x in ("DOUBLE", "FLOAT", "REAL")):
        return "float"
    if "BOOL" in t:
        return "bool"
    if "TIMESTAMP" in t:
        # one class for all timestamp flavors: the session TZ is pinned UTC
        # on both engines, so wall-clock (DuckDB TIMESTAMP / Spark
        # timestamp_ntz) and instant (TIMESTAMPTZ / Spark timestamp) values
        # canonicalize identically — proven by the r7 driver green rows for
        # tpch_q18 (spark timestamp_ntz vs duckdb TIMESTAMP, hash green)
        return "timestamp"
    if "DATE" in t:
        return "date"
    if any(x in t for x in ("VARCHAR", "STRING", "TEXT", "CHAR")):
        return "string"
    if any(x in t for x in ("BLOB", "BINARY")):
        return "binary"
    if t.startswith("ARRAY") or "[]" in t or "LIST" in t:
        return "array"
    if "STRUCT" in t or "ROW" in t:
        return "struct"
    if "MAP" in t:
        return "map"
    return t.lower()


def _type_parity(name: str, spark_dtypes, duck_cols, duck_types):
    """Return (fatal, warns): fatal on banned int128-class oracle types;
    WARN strings on coarse-class mismatch between oracle and Spark schema."""
    fatal = []
    warns = []
    sd = dict(spark_dtypes)
    for col, dt in zip(duck_cols, duck_types):
        dts = str(dt)
        if any(b in dts.upper() for b in _BANNED_DUCK_TYPES):
            fatal.append(f"oracle column {col!r} is {dts} (driver hasher is "
                         f"type-sensitive; CAST it to BIGINT in oracle_sql)")
            continue
        if col not in sd:
            continue  # column-name mismatch is reported separately
        dc, sc = _coarse(dts), _coarse(sd[col])
        # int widths (int32 vs int64) canonicalize identically in the hash
        # path; everything else crossing classes is worth a WARN
        if dc != sc and not ({dc, sc} == {"int"}):
            warns.append(f"{col}: duckdb={dts} spark={sd[col]}")
    return fatal, warns


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        t = os.path.basename(p).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows={len(srows)} (no oracle — rows-only) [{time.time()-t0:.1f}s]")
            if len(srows) == 0:
                failures.append(name)
                print(f"FAIL  {name}: zero rows")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = list(rel.types)
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue

        problems = []
        fatal_types, type_warns = _type_parity(name, sdf.dtypes, dcols, dtypes)
        problems.extend(fatal_types)
        for w in type_warns:
            print(f"WARN  {name}: type-parity {w}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            a, b = _rows_canon(scols, srows), _rows_canon(dcols, drows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values mismatch, first diffs: {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")

    print(f"\n{checked - len(failures)}/{checked} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
