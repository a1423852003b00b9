"""Boundary bucketing: map an order-preserving numeric key to the index
of its quantile bucket, given a sorted literal boundary list.

Used by the exact-ntile rank machinery (queries/event_time.py), which
partitions work by approximate quantile boundaries whose inaccuracy can
NEVER affect results (buckets only partition the work; any value-range
bucketing that respects the key order yields the same ranks).

bucket = #boundaries <= key, an O(len(bounds)) vectorized fold per row
that stays inside whole-stage codegen. Monotone in the key even across
a lossy-but-order-preserving cast (equal keys share a bucket).

NULL keys go to a dedicated bucket ABOVE every boundary bucket:
DuckDB's default NULLS LAST, which the ntile rank needs for oracle
parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def boundary_bucket(key: Column, bounds: list[float]) -> Column:
    """Bucket index of ``key`` against sorted ``bounds`` (int column)."""
    if not bounds:
        return F.when(key.isNull(), F.lit(1)).otherwise(F.lit(0))
    fold = F.aggregate(
        F.lit(bounds),
        F.lit(0),
        lambda acc, b: acc + F.when(key >= b, 1).otherwise(0),
    )
    # a NULL key makes every comparison NULL -> otherwise(0) -> the fold
    # lands at 0, which would sort NULLs FIRST; pin them above the top
    # bucket instead
    return F.when(key.isNull(), F.lit(len(bounds) + 1)).otherwise(fold)
