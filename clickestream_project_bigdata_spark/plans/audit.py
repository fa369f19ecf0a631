"""Plan-audit helpers: assert the physical plan you meant to write.

Scale regressions rarely announce themselves — a lost broadcast hint or a
collapsed projection just makes the job slower. These helpers turn plan
properties (exchange and join counts) into assertable values so tests can
pin them (`tests/test_plans.py`), and `explain()` is one call away during
development.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The final (AQE-resolved where possible) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (each one is a full data reshuffle)."""
    return len(re.findall(r"\bExchange\b", executed_plan(df)))


def count_sort_merge_joins(df: DataFrame) -> int:
    return executed_plan(df).count("SortMergeJoin")


def count_broadcast_joins(df: DataFrame) -> int:
    return executed_plan(df).count("BroadcastHashJoin")
