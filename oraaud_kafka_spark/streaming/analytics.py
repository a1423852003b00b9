"""Streaming analytics kit (SURVEY.md §2.2 streaming ops): watermarks,
event-time windows, streaming dedup, stream-static and stream-stream
joins.

All helpers take/return streaming DataFrames so they compose with the
ingest pipeline (streaming.ingest) and any sink. Each is a thin,
declarative wrapper — Catalyst/the streaming engine keep incremental
state; nothing here collects to the driver.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_event_time(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Watermark = how long to wait for late data before state GC. The
    reference's analog is the incomplete-file requeue window
    (KafkaJob.java:81-88): data not ready yet is retried, data that
    never completes is eventually abandoned."""
    return df.withWatermark(ts_col, delay)


def tumbling_counts(
    df: DataFrame, ts_col: str, width: str, *, delay: str = "10 minutes"
) -> DataFrame:
    """Tumbling event-time window counts; append-mode-safe (watermarked)."""
    return (
        with_event_time(df, ts_col, delay)
        .groupBy(F.window(ts_col, width).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("w.start", "w.end", "n")
    )


def streaming_dedup(
    df: DataFrame, keys: list[str], *, ts_col: str | None = None, delay: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup. With a watermark the key-set state is
    GC-able (dropDuplicatesWithinWatermark) — the only shape that
    survives an unbounded stream; without one, state grows forever."""
    if ts_col is None:
        return df.dropDuplicates(keys)
    return with_event_time(df, ts_col, delay).dropDuplicatesWithinWatermark(keys)


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: Any,
    how: str = "inner",
    *,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static join. By default the static side is broadcast per
    micro-batch so the stream never shuffles — the standard enrichment
    shape for DOMAIN-bounded dimensions (event-type lookups, config
    tables). For a dimension that grows with the data (a full user or
    object table), pass ``broadcast_dim=False``: the hint is a promise
    the frame fits in executor memory at any scale, and forcing it on a
    growing table is the exact hazard tests/test_broadcast_hints.py
    pins out of the batch surface — unhinted, the planner picks a
    shuffle join when the dimension outgrows the broadcast threshold."""
    return stream.join(F.broadcast(dim) if broadcast_dim else dim, on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: Any,
    *,
    left_ts: str,
    right_ts: str,
    delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join; both sides watermarked so join state is
    bounded. The caller's `on` must include an event-time constraint
    for the state bound to be effective."""
    return with_event_time(left, left_ts, delay).join(
        with_event_time(right, right_ts, delay), on, how
    )
