"""Analytic query catalog (SURVEY.md §2.2).

Numeric-determinism helpers
---------------------------
The driver hash-compares Spark output against DuckDB bit-for-bit, but raw
double SUM/AVG is summation-order-dependent and differs between engines.
Pattern used throughout (on BOTH sides):

  sum:  cast operands to DECIMAL (exact arithmetic, order-independent),
        sum in decimal, cast the final result to DOUBLE — the decimal->
        double rounding of an identical exact value is identical IEEE.
  avg:  CAST(decimal_sum AS DOUBLE) / count — one IEEE division of
        identical doubles.
  stddev/var: explicit sum-of-squares formula over decimal sums, with the
        final arithmetic in double; identical expression both sides.

min/max/count and decimal arithmetic are exact and safe as-is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Wide enough for sf0.1 and beyond (plain sums only).
DEC = "decimal(18,4)"
# Narrower operand types for products: (14,4)*(6,4)*(6,4) -> decimal(28,12),
# still inside the 38-digit cap, so multiplication stays EXACT in both
# engines (Spark truncates scale past 38 digits; DuckDB differs there).
DEC_MONEY = "decimal(14,4)"
DEC_RATE = "decimal(6,4)"


# Final cast always narrows to DECIMAL(18,4) first: the scaled integer then
# fits in 2^53, so decimal->double is exact-then-correctly-rounded in BOTH
# engines (DuckDB's wide-decimal->double cast is NOT correctly rounded: it
# divides int128 by 10^scale in floating point — observed 1-ulp drift at
# scale 12).
def to_dbl(c: Column) -> Column:
    return c.cast(DEC).cast("double")


def dsum(col: Column | str) -> Column:
    """Order-independent sum of a double column via exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return to_dbl(F.sum(c.cast(DEC)))


def davg(col: Column | str) -> Column:
    """Deterministic average: exact decimal sum, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return to_dbl(F.sum(c.cast(DEC))) / F.count(c)


# DuckDB's decimal->decimal scale-reduction cast TRUNCATES, Spark's rounds
# HALF_UP — so round() explicitly first (half-away-from-zero, matching
# Spark) and only then narrow losslessly.
def sql_to_dbl(expr: str) -> str:
    return f"CAST(CAST(round({expr}, 4) AS DECIMAL(18,4)) AS DOUBLE)"


def sql_dsum(expr: str) -> str:
    """DuckDB-side twin of :func:`dsum`."""
    return sql_to_dbl(f"sum(CAST({expr} AS DECIMAL(18,4)))")


def sql_davg(expr: str) -> str:
    """DuckDB-side twin of :func:`davg`."""
    return f"{sql_dsum(expr)} / count({expr})"


# Deterministic hash discipline: md5 of a salted key, first 48 bits,
# reduced mod ``mod`` — identical on both engines (md5 is
# engine-independent; conv/CAST of a 12-hex-digit slice fits a BIGINT
# exactly). THE one definition behind the CMS buckets
# (queries/aggregates.py) and the Bloom bit positions
# (queries/joins.py), so a recipe change cannot diverge an operator
# from its oracle.
def md5_mod(salt: str, key, mod: int) -> Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("long")
        % mod
    )


def sql_md5_mod(salt: str, key: str, mod: int) -> str:
    """DuckDB-side twin of :func:`md5_mod`."""
    return (
        f"CAST('0x' || substring(md5('{salt}:' || CAST({key} AS VARCHAR)), "
        f"1, 12) AS BIGINT) % {mod}"
    )


# Embedding vector maths: elements are cast float->double (exact) before
# any arithmetic, and the folds run sequentially in array order on both
# engines (F.aggregate <-> list_reduce), so dot products and norms are
# bit-identical. The one definition behind llm/similarity.py and
# llm/dedup.py.
def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def sql_dot(a: str, b: str) -> str:
    """DuckDB-side twin of :func:`dot`."""
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), "
        "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (acc, x) -> acc + x)"
    )


def sql_norm(a: str) -> str:
    """DuckDB-side twin of :func:`norm`."""
    return (
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
        "(acc, x) -> acc + x))"
    )


# Zero-norm vectors have no direction; every similarity operator excludes
# them identically on both engines. The oracle side prepends this CTE
# (shadowing the base view via the main. qualifier); the Spark side
# filters with the same norm expression after load.
def directional(df: DataFrame) -> DataFrame:
    return df.filter(norm(F.col("embedding")) > 0)


def sql_directional_cte() -> str:
    """DuckDB-side twin of :func:`directional`."""
    return (
        "embeddings AS (SELECT * FROM main.embeddings WHERE "
        + sql_norm("embedding")
        + " > 0)"
    )
