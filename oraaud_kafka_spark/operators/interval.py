"""Interval-join latency pieces — the ONE definition of the
click→purchase attribution semantics (lag units, window width, the
bound, the division shape), used by the registered batch queries
q_time_interval_latency and q_time_conversion_rate
(queries/event_time.py).

Frames entering these helpers carry (c_user, c_ts) / (p_user, p_ts):
the click and purchase sides with disjoint column names, so the same
expressions resolve identically over a batch join and a watermarked
stream-stream join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interval_join_cond(max_lag: str = "30 minutes") -> Column:
    """Same-user purchases strictly after, and within ``max_lag`` of,
    a click. Equi key first (hash join, never a cross product); the
    time bound is the post-filter batch-side and the join-state GC
    bound stream-side."""
    return (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {max_lag}"))
    )


def interval_latency_rollup(
    joined: DataFrame, *, window: str = "1 hour"
) -> DataFrame:
    """Per click-window conversion latency: exact integer-microsecond
    lag sums/max, one IEEE division chain for the average (identical
    operand shape on the DuckDB oracle, so the driver hash matches
    bitwise)."""
    lag_us = F.unix_micros("p_ts") - F.unix_micros("c_ts")
    return (
        joined.groupBy(F.window("c_ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(lag_us).alias("sum_lag_us"),
            F.max(lag_us).alias("max_lag_us"),
        )
        .select(
            F.col("w.start").alias("click_hour"),
            "n_pairs",
            "sum_lag_us",
            "max_lag_us",
            (
                F.col("sum_lag_us").cast("double")
                / F.col("n_pairs")
                / F.lit(1000000)
            ).alias("avg_lag_s"),
        )
    )


CONVERSION_WINDOW = "1 hour"


def conversion_rate_select(grouped: DataFrame) -> DataFrame:
    """Final projection of the conversion-rate rollup
    (queries/event_time.py q_time_conversion_rate) — the ONE place the
    output names and the rate division live. ``grouped`` carries
    (w, n_clicks, n_converted); the division is the single IEEE op the
    oracle also performs."""
    return grouped.select(
        F.col("w.start").alias("click_hour"),
        "n_clicks",
        "n_converted",
        (
            F.col("n_converted").cast("double") / F.col("n_clicks")
        ).alias("conversion_rate"),
    )
