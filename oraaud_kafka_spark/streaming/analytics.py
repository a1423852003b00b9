"""Streaming analytics kit (SURVEY.md §2.2 streaming ops): watermarks,
event-time windows, streaming dedup, stream-static and stream-stream
joins, and custom stateful operators.

All helpers take/return streaming DataFrames so they compose with the
ingest pipeline (streaming.ingest) and any sink. Each is a thin,
declarative wrapper — Catalyst/the streaming engine keep incremental
state; nothing here collects to the driver.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_DUR_UNIT_MS = {
    "millisecond": 1, "milliseconds": 1, "ms": 1,
    "second": 1000, "seconds": 1000, "sec": 1000, "secs": 1000,
    "minute": 60_000, "minutes": 60_000, "min": 60_000, "mins": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "day": 86_400_000, "days": 86_400_000,
}


def duration_ms(duration: int | str) -> int:
    """'<n> <unit>' (or plain int milliseconds) -> int milliseconds.

    GroupState.setTimeoutDuration accepts ONLY int ms — the
    CalendarInterval string form raises PySparkTypeError
    (SPARK-40437 unimplemented) — so every monitor's human-readable
    idle_timeout knob parses HERE, once, at query-build time; a typo
    fails the build instead of the first micro-batch."""
    if isinstance(duration, int) and not isinstance(duration, bool):
        ms = duration
    else:
        m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]+)\s*", str(duration))
        unit = m.group(2).lower() if m else None
        if unit not in _DUR_UNIT_MS:
            raise ValueError(
                f"duration {duration!r} not understood — pass int "
                "milliseconds or '<n> <unit>' with unit one of "
                f"{sorted(set(_DUR_UNIT_MS))}"
            )
        ms = int(m.group(1)) * _DUR_UNIT_MS[unit]
    if ms <= 0:
        raise ValueError(f"duration must be positive, got {duration!r}")
    return ms


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


def sliding_counts(
    df: DataFrame, ts_col: str, width: str, slide: str, *, delay: str = "10 minutes"
) -> DataFrame:
    return (
        with_event_time(df, ts_col, delay)
        .groupBy(F.window(ts_col, width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("w.start", "w.end", "n")
    )


def session_counts(
    df: DataFrame, ts_col: str, gap: str, keys: list[str], *, delay: str = "10 minutes"
) -> DataFrame:
    """Session windows: gap-based, state merges as events arrive."""
    return (
        with_event_time(df, ts_col, delay)
        .groupBy(*keys, F.session_window(ts_col, gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(*keys, "w.start", "w.end", "n")
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


def interval_latency_monitor(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    max_lag: str = "30 minutes",
    delay: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Live conversion-latency rollup: the streaming form of the
    registered batch query q_time_interval_latency (parity-pinned in
    tests/test_streaming.py). Both inputs carry (user_id, ts); each
    purchase within (0, max_lag] of the same user's click is an
    attributed conversion, rolled up per tumbling click-hour window
    with exact integer-microsecond lag sums.

    Two chained stateful operators, both state-bounded: the
    stream-stream inner join's state is GC'd by the watermark plus the
    max_lag constraint (a purchase can only match clicks at most
    max_lag old, so click rows age out of the join buffer), and the
    tumbling aggregation closes windows as the JOIN OUTPUT watermark
    advances — append mode emits each window exactly once, finished.
    At scale the join shuffles on user_id only; nothing here is keyed
    by the unbounded (user x hour) product."""
    from ..operators.interval import interval_join_cond, interval_latency_rollup

    c = clicks.select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = stream_stream_join(
        c,
        p,
        interval_join_cond(max_lag),
        left_ts="c_ts",
        right_ts="p_ts",
        delay=delay,
    )
    return interval_latency_rollup(joined, window=window)


def conversion_rate_monitor(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    max_lag: str = "30 minutes",
    delay: str = "1 hour",
    window: str | None = None,
) -> DataFrame:
    """Live per-window conversion RATE: the LEFT-OUTER complement of
    interval_latency_monitor — every click counted, converted or not
    (the streaming twin of the batch query
    q_time_conversion_rate; parity-pinned byte-equal in
    tests/test_streaming.py).

    THREE chained stateful operators, each state-bounded by the same
    watermark: (1) the left-outer time-interval join — matched rows
    emit as purchases arrive, the NULL-padded row for a never-matched
    click emits exactly once, when the watermark passes its join
    window and no purchase can ever match; (2) dropDuplicatesWithin-
    Watermark on the click's event_id collapses the one-click-many-
    purchases fan-out to one row per click (streams cannot
    count_distinct; the pick is value-deterministic because every
    matched duplicate carries converted=1 and the NULL row is mutually
    exclusive with matches); (3) the tumbling rollup closes each
    click-hour window once, in append mode. The clicks input must
    carry a unique ``event_id``. NOTE: do NOT re-apply withWatermark
    between stages — the join's output watermark propagates, and
    redefining it is an analysis error under multi-stateful-operator
    plans. CONSTRAINT: ``delay`` must cover ``max_lag`` — the dedup
    state for a click is only guaranteed within the watermark delay,
    so a second purchase matching up to max_lag later could count the
    click twice if its dedup row were already evicted; enforced here,
    not documented-only."""
    from ..operators.interval import CONVERSION_WINDOW, interval_join_cond

    if window is None:
        window = CONVERSION_WINDOW
    if duration_ms(delay) < duration_ms(max_lag):
        raise ValueError(
            f"delay ({delay!r}) must be >= max_lag ({max_lag!r}): "
            "dropDuplicatesWithinWatermark only guarantees one row per "
            "click within the watermark delay, so a shorter delay can "
            "double-count clicks whose second match arrives later"
        )

    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = stream_stream_join(
        c,
        p,
        interval_join_cond(max_lag),
        left_ts="c_ts",
        right_ts="p_ts",
        delay=delay,
        how="left_outer",
    )
    per_click = joined.select(
        "click_id",
        "c_ts",
        F.when(F.col("p_ts").isNotNull(), 1).otherwise(0).alias("converted"),
    ).dropDuplicatesWithinWatermark(["click_id"])
    from ..operators.interval import conversion_rate_select

    grouped = per_click.groupBy(F.window("c_ts", window).alias("w")).agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum("converted").alias("n_converted"),
    )
    return conversion_rate_select(grouped)


# ---------------------------------------------------------------------------
# Streaming Holt-Winters (level + trend + 24-slot hour-of-day season):
# the live counterpart of the registered batch operator
# q_time_holt_winters (queries/event_time.py), completing the
# forecasting monitor ladder
# (ewma_levels -> holt_levels -> hw_levels). The batch twin folds over
# the bounded HOURLY grain, so the monitor's keyed state is the HW
# triple over CLOSED hour buckets — (level, trend, season[24],
# n_hours, last folded hod) — plus exactly ONE open bucket
# (hour, cents): O(m)=O(24) scalars per key regardless of stream
# length. Within a batch, events bucket to hours; every bucket
# strictly older than the newest observed hour closes IN HOUR ORDER
# and folds one HW step with the identical IEEE op shapes as the
# batch fold; the newest bucket stays open across batches. An event
# at or before the last FOLDED hour is a true late arrival and drops
# (the burst_monitor aging rule — the watermark analog
# applyInPandasWithState cannot express natively); a mid-gap hour
# between the last folded hour and the open bucket is NOT late — it
# still folds in hour order before the open bucket does. So the
# monitor reproduces the batch fold exactly whenever no event arrives
# after its hour has been folded past — the condition the parity test
# constructs and event-time streams approximate. Cents use the shared
# half-away-from-zero rule; output rounds via BigDecimal-equivalent
# HALF_UP so emitted rows are byte-comparable to the batch twin.
# ---------------------------------------------------------------------------

HW_SEASON_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_hours", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("season_next", DoubleType()),
        StructField("forecast_next", DoubleType()),
    ]
)
HW_SEASON_STATE_SCHEMA = StructType(
    [
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("season", ArrayType(DoubleType())),
        StructField("n_hours", LongType()),
        StructField("last_folded_hour_us", LongType()),
        StructField("open_hour_us", LongType()),
        StructField("open_cents", LongType()),
    ]
)

HW_SEASON_ALPHA, HW_SEASON_BETA, HW_SEASON_GAMMA = 0.3, 0.1, 0.2
_HW_M = 24
_HOUR_US = 3_600_000_000


def _round6_half_up(v: float) -> float:
    """F.round(double, 6) parity: Spark rounds the SHORTEST-REPR
    decimal of the double HALF_UP (BigDecimal.valueOf), which is
    Decimal(repr(v)) in Python — NOT banker's round()."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(v))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


def _hw_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    if state.exists:
        (
            level,
            trend,
            season,
            n_hours,
            last_folded,
            open_hour,
            open_cents,
        ) = state.get
        season = list(season)
    else:
        # None (nullable state fields) is the no-state sentinel — an
        # in-band -1 would silently drop pre-1970 events (negative
        # hour_us) as "late" on first contact while the batch twin
        # q_time_holt_winters folds them
        level, trend, season = 0.0, 0.0, [0.0] * _HW_M
        n_hours, last_folded, open_hour, open_cents = 0, None, None, 0
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows[rows["ts"].notna() & rows["value"].notna()]
    buckets: dict[int, int] = {}
    for ts, v in zip(rows["ts"], rows["value"]):
        hour_us = (int(ts.value) // 1000) // _HOUR_US * _HOUR_US
        buckets[hour_us] = buckets.get(hour_us, 0) + quantile_cents(v)
    # an all-NULL first contact carries no bucket: do not create state
    # or emit (the burst_monitor rule) — the batch twin filters such
    # rows out before grouping and never returns the key
    if not buckets and not state.exists:
        return
    # merge the carried open bucket, drop true late arrivals (hours at
    # or before the last FOLDED hour — a mid-gap hour between the last
    # folded and the open bucket is still foldable in order and is NOT
    # late), then fold everything except the newest, which stays open
    if open_hour is not None:
        buckets[open_hour] = buckets.get(open_hour, 0) + open_cents
    live = {
        h: c
        for h, c in buckets.items()
        if last_folded is None or h > last_folded
    }

    def fold(hour_us: int, cents: int) -> None:
        nonlocal level, trend, n_hours, last_folded
        hod = (hour_us // _HOUR_US) % _HW_M
        y = float(cents)
        s_prev = season[hod]
        # identical op shapes to the batch F.aggregate fold
        new_l = HW_SEASON_ALPHA * (y - s_prev) + (1 - HW_SEASON_ALPHA) * (
            level + trend
        )
        new_s = HW_SEASON_GAMMA * (y - (level + trend)) + (
            1 - HW_SEASON_GAMMA
        ) * s_prev
        trend = HW_SEASON_BETA * (new_l - level) + (1 - HW_SEASON_BETA) * trend
        level = new_l
        season[hod] = new_s
        n_hours += 1
        last_folded = hour_us

    ordered = sorted(live)
    for hour_us in ordered[:-1]:
        fold(hour_us, live[hour_us])
    open_hour, open_cents = (
        (ordered[-1], live[ordered[-1]]) if ordered else (None, 0)
    )
    state.update(
        (level, trend, season, n_hours, last_folded, open_hour, open_cents)
    )
    # Python // floors, so a negative (pre-1970) folded hour maps to
    # the same hour-of-day slot F.hour gives the batch twin
    if last_folded is not None:
        last_hod = (last_folded // _HOUR_US) % _HW_M
        s_next = season[(last_hod + 1) % _HW_M]
    else:
        s_next = 0.0
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n_hours": [n_hours],
            "level": [_round6_half_up(level)],
            "trend": [_round6_half_up(trend)],
            "season_next": [_round6_half_up(s_next)],
            "forecast_next": [_round6_half_up(level + trend + s_next)],
        }
    )


def hw_levels(df: DataFrame) -> DataFrame:
    """Per-type zero-seeded Holt-Winters over (event_type, ts, value)
    rows; emits the closed-bucket state each micro-batch the key
    appears in. Update-mode sinks keep the latest row per key."""
    return (
        df.select("event_type", "ts", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _hw_fn,
            HW_SEASON_OUTPUT_SCHEMA,
            HW_SEASON_STATE_SCHEMA,
            "update",
            "NoTimeout",
        )
    )


def dynamic_session_monitor(
    events: DataFrame, *, delay: str = "1 hour"
) -> DataFrame:
    """Live dynamic-gap sessionization: the streaming twin of the
    batch query q_time_session_dynamic_gap (parity-pinned
    byte-equal in tests/test_streaming.py). Each event keeps its user's
    session alive for a PER-EVENT gap (clicks 30 min, everything else
    10 min — Spark-4 dynamic session windows); the gap expression and
    rollup live ONCE in operators/sessions.py, shared with the batch
    twin.

    One stateful operator: the engine merges session state per
    (user_id, window) as events arrive and closes a session exactly
    once, when the watermark passes its end — append mode emits
    finished sessions only. State is bounded by the number of OPEN
    sessions (watermark + gap GC), never by stream length; the shuffle
    is on user_id, the same single-exchange shape as the batch side.
    The input must carry (user_id, ts, event_type)."""
    from ..operators.sessions import session_rollup

    return session_rollup(with_event_time(events, "ts", delay))


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary-state API): running
# per-key statistics with an explicit ValueState cell. This is the
# successor to applyInPandasWithState (typed state handles, timers,
# TTL) the engine standardizes on for new custom stateful operators. State per key is O(1) (count / sum / max),
# emitted in Update mode every batch the key appears in.
# ---------------------------------------------------------------------------

RUNNING_STATS_OUTPUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)


def transform_with_state_available() -> bool:
    """transformWithStateInPandas speaks a protobuf-based state protocol;
    the API exists in Spark 4.1 but its Python worker needs
    google.protobuf, which this container does not ship (and installs
    are disallowed). On a real cluster with protobuf present the
    operator below runs unchanged."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_type_stats(df: DataFrame) -> DataFrame:
    """Cumulative per-type stats via transformWithStateInPandas.

    The processor class is defined INSIDE this function on purpose:
    Spark's transform-with-state driver worker runs under the system
    Spark's Python (not this venv) and unpickles the processor there —
    a module-level class would pickle by reference and fail to import.
    A closure-local class makes cloudpickle serialize it BY VALUE, so
    the only import the worker needs is pyspark itself.
    """
    if not transform_with_state_available():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf in the worker "
            "environment; not installable in this container. Run on a "
            "cluster with protobuf to use this operator unchanged."
        )
    from pyspark.sql.streaming import StatefulProcessor

    class RunningTypeStatsProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._stats = handle.getValueState(
                "stats", "n BIGINT, total DOUBLE, vmax DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            prev = self._stats.get() if self._stats.exists() else (0, 0.0, None)
            n, total, vmax = prev
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                batch_max = float(pdf["value"].max())
                vmax = batch_max if vmax is None else max(vmax, batch_max)
            self._stats.update((n, total, vmax))
            yield _pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "max_value": [vmax],
                }
            )

        def close(self) -> None:
            pass

    return (
        df.select("event_type", "value")
        .groupBy("event_type")
        .transformWithStateInPandas(
            statefulProcessor=RunningTypeStatsProcessor(),
            outputStructType=RUNNING_STATS_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )


# ---------------------------------------------------------------------------
# Streaming EWMA: the live counterpart of the batch q_time_ewma_level
# operator (queries/event_time.py) — per-key simple exponential
# smoothing whose level survives micro-batch boundaries in keyed state.
# Within a batch, rows fold in (ts, event_id) order; across batches the
# state cell carries (level, n) forward, so feeding the same rows in
# the same order through any batch slicing yields the level the batch
# fold computes (asserted by tests/test_streaming.py). Scale: state is
# two scalars per key, grouped state partitioning is the engine's
# normal HDFSBackedStateStore/RocksDB path, and each batch's work is
# one shuffle on the key — the shape monitoring pipelines run per
# metric key.
# ---------------------------------------------------------------------------

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma_level", DoubleType()),
    ]
)
EWMA_STATE_SCHEMA = StructType(
    [StructField("level", DoubleType()), StructField("n", LongType())]
)

EWMA_ALPHA = 0.3


def _ewma_fn(key: tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    level, n = state.get if state.exists else (0.0, 0)
    rows = pd.concat(list(pdfs), ignore_index=True)
    # NULL/NaT-ts rows have no position in the time order — excluded
    # here exactly as the batch twin q_time_ewma_level excludes them;
    # NULL event_id would leave ties slicing-dependent under the
    # stable sort, and a NULL value would fold NaN into the level
    # forever — the same totality rule as the heavy-hitters monitor
    rows = rows[
        rows["ts"].notna()
        & rows["event_id"].notna()
        & rows["value"].notna()
    ].sort_values(["ts", "event_id"])
    for v in rows["value"]:
        level = EWMA_ALPHA * float(v) + (1 - EWMA_ALPHA) * level
        n += 1
    state.update((level, n))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "ewma_level": [level]}
    )


def ewma_levels(df: DataFrame) -> DataFrame:
    """Per-user zero-seeded EWMA over (user_id, ts, event_id, value)
    rows; emits the updated (n_events, ewma_level) each micro-batch the
    key appears in. Update-mode sinks keep the latest row per key."""
    return (
        df.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _ewma_fn,
            EWMA_OUTPUT_SCHEMA,
            EWMA_STATE_SCHEMA,
            "update",
            "NoTimeout",
        )
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance, live: the streaming counterpart of
# q_time_rollup_merge (queries/event_time.py). Each micro-batch
# partial-aggregates ONLY its own rows, then merges those partials into
# a standing parquet rollup — counts and exact-decimal sums add,
# min/max fold — so the maintained table always equals a from-scratch
# rollup over everything ingested (the batch operator's hash-proven
# merge algebra, applied per trigger). History is never rescanned: per
# trigger the engine reads the standing rollup (rollup-cardinality,
# not event-cardinality), merges, and atomically swaps directories.
# foreachBatch is at-least-once; the batch-id marker makes a replayed
# batch detectable so the merge is effectively exactly-once.
# ---------------------------------------------------------------------------


def rollup_maintainer(base_dir: str):
    """foreachBatch callback maintaining an hourly (event_type, h)
    rollup under ``base_dir``. Crash-safe by construction: each batch
    writes a NEW versioned rollup directory ``rollup_batch=<n>`` (never
    mutating the previous one), then commits by atomically renaming a
    marker file whose content names the live version. Replayed batches
    (foreachBatch is at-least-once) are detected via the committed
    marker and no-op; a crash BEFORE the marker rename leaves the old
    version live and the replay simply rewrites the staged directory —
    no window exists in which history can be lost or double-merged.
    Old versions are pruned only after the marker commit."""
    import os

    from pyspark.sql import functions as F

    # The STANDING sum is decimal(38,4): re-narrowing the merged running
    # sum to the per-batch decimal(18,4) every trigger would hard-fail
    # the stream under Spark 4's ANSI default (or silently NULL the cell
    # non-ANSI) once the lifetime sum of a hot (type, hour) cell passes
    # 1e14 — the batch twin q_time_rollup_merge deliberately keeps the
    # widened sum, and the maintained-equals-recompute contract must
    # break never, not at 1e14.
    DEC = "decimal(18,4)"
    DEC_WIDE = "decimal(38,4)"

    def _committed(marker: str) -> int:
        if not os.path.exists(marker):
            return -1
        with open(marker) as fh:
            return int(fh.read().strip())

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = os.path.join(base_dir, "_committed")
        live = _committed(marker)
        if live >= batch_id:
            return  # replayed batch — already committed
        partial = batch_df.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        ).agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast(DEC_WIDE).alias("dec_sum"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        if live >= 0:
            standing = spark.read.parquet(
                os.path.join(base_dir, f"rollup_batch={live}")
            )
            merged = (
                standing.unionByName(partial)
                .groupBy("event_type", "h")
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("dec_sum").cast(DEC_WIDE).alias("dec_sum"),
                    F.min("min_value").alias("min_value"),
                    F.max("max_value").alias("max_value"),
                )
            )
        else:
            merged = partial
        new_dir = os.path.join(base_dir, f"rollup_batch={batch_id}")
        merged.write.mode("overwrite").parquet(new_dir)
        # commit: write-then-atomic-rename of the marker
        tmp_marker = marker + ".tmp"
        with open(tmp_marker, "w") as fh:
            fh.write(str(batch_id))
        os.replace(tmp_marker, marker)
        # prune superseded versions (best-effort, post-commit)
        if live >= 0:
            import shutil

            old_dir = os.path.join(base_dir, f"rollup_batch={live}")
            shutil.rmtree(old_dir, ignore_errors=True)

    return merge_batch


def current_rollup_dir(base_dir: str) -> str:
    """Path of the committed rollup version (for readers)."""
    import os

    marker = os.path.join(base_dir, "_committed")
    with open(marker) as fh:
        return os.path.join(base_dir, f"rollup_batch={int(fh.read().strip())}")


# ---------------------------------------------------------------------------
# Streaming Holt (level + trend) smoothing: the live counterpart of the
# batch q_time_holt_trend operator, exactly as ewma_levels mirrors
# q_time_ewma_level — per-key double exponential smoothing whose
# (level, trend) pair survives micro-batch boundaries in keyed state.
# Within a batch, NaT-ts rows drop and the rest fold in (ts, event_id)
# order; across batches the state cell carries (level, trend, n)
# forward, so any batch slicing of the same ordered rows reproduces
# the batch fold (asserted in tests/test_streaming.py). State is three
# scalars per key; each trigger is one shuffle on the key.
# ---------------------------------------------------------------------------

HOLT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("forecast_next", DoubleType()),
    ]
)
HOLT_STATE_SCHEMA = StructType(
    [
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("n", LongType()),
    ]
)

HOLT_ALPHA, HOLT_BETA = 0.3, 0.1


def _holt_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    level, trend, n = state.get if state.exists else (0.0, 0.0, 0)
    rows = pd.concat(list(pdfs), ignore_index=True)
    # same totality rule as the EWMA monitor above (NULL event_id /
    # value would break slicing determinism or NaN-poison the state)
    rows = rows[
        rows["ts"].notna()
        & rows["event_id"].notna()
        & rows["value"].notna()
    ].sort_values(["ts", "event_id"])
    for v in rows["value"]:
        new_level = HOLT_ALPHA * float(v) + (1 - HOLT_ALPHA) * (level + trend)
        trend = HOLT_BETA * (new_level - level) + (1 - HOLT_BETA) * trend
        level = new_level
        n += 1
    state.update((level, trend, n))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "level": [level],
            "trend": [trend],
            "forecast_next": [level + trend],
        }
    )


def holt_levels(df: DataFrame) -> DataFrame:
    """Per-user zero-seeded Holt level+trend over (user_id, ts,
    event_id, value) rows; emits the updated state each micro-batch the
    key appears in. Update-mode sinks keep the latest row per key."""
    return (
        df.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _holt_fn,
            HOLT_OUTPUT_SCHEMA,
            HOLT_STATE_SCHEMA,
            "update",
            "NoTimeout",
        )
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM control chart. The batch q_time_cusum_changepoint
# retrofits the deviation reference (the series mean) from the FULL
# series; a one-pass stream cannot know it, so the live form is the
# classic parameterized control chart: deviations accumulate against a
# FIXED per-type target mean (cents), e.g. last week's batch mean — the
# standard Page-CUSUM deployment split (fit offline, monitor online).
# State is three scalars per key (running cusum, running |peak|, n);
# each trigger is one shuffle on event_type. Cross-batch continuity is
# asserted against a pure-Python fold in tests/test_streaming.py.
# ---------------------------------------------------------------------------

CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("cusum_dollars", DoubleType()),
        StructField("peak_abs_dollars", DoubleType()),
    ]
)
CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("cusum", DoubleType()),
        StructField("peak_abs", DoubleType()),
        StructField("n", LongType()),
    ]
)


def cusum_monitor(df: DataFrame, target_mean_cents: dict) -> DataFrame:
    """Per-type streaming CUSUM of integer-cent deviations from a fixed
    target mean; emits the updated running sum and |peak| each
    micro-batch the key appears in. NULL ts / NULL value rows carry no
    position or magnitude and are dropped, like the batch twin."""
    targets = {k: float(v) for k, v in target_mean_cents.items()}

    # half-AWAY-FROM-ZERO on the exact binary value — the same result
    # as Spark's F.round(value * 100) and DuckDB's round() in the
    # batch twin; Python's builtin round() is banker's rounding and
    # would drift 1 cent on exact .5 boundaries. ONE shared helper for
    # every cent-domain monitor (quantile/drawdown delegate too) so a
    # rounding-rule fix can never desynchronize them.
    _cents = quantile_cents

    def _fn(key, pdfs, state):
        (etype,) = key
        cusum, peak, n = state.get if state.exists else (0.0, 0.0, 0)
        mu = targets.get(etype, 0.0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[
            rows["ts"].notna()
            & rows["event_id"].notna()
            & rows["value"].notna()
        ]
        rows = rows.sort_values(["ts", "event_id"])
        for v in rows["value"]:
            cusum += _cents(v) - mu
            if abs(cusum) > peak:
                peak = abs(cusum)
            n += 1
        state.update((cusum, peak, n))
        yield pd.DataFrame(
            {
                "event_type": [etype],
                "n_events": [n],
                "cusum_dollars": [cusum / 100],
                "peak_abs_dollars": [peak / 100],
            }
        )

    return (
        df.select("event_type", "ts", "event_id", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _fn,
            CUSUM_OUTPUT_SCHEMA,
            CUSUM_STATE_SCHEMA,
            "update",
            "NoTimeout",
        )
    )


# ---------------------------------------------------------------------------
# Streaming PSI drift monitor. The batch q_quality_psi_drift compares
# two corpus halves it can both see; a one-pass stream cannot, so the
# live form is the standard deployment split (identical to
# cusum_monitor's): a FIXED per-type reference bucket distribution is
# fit offline (e.g. from last week's batch histogram) and the stream
# accumulates the observed bucket counts per key, emitting the
# Laplace-smoothed PSI of observed-vs-reference plus the conventional
# drift band each micro-batch the key appears in. State is B+1 longs
# per key; each trigger is one shuffle on event_type. Bucketing,
# smoothing ((c+1)/(n+B)), ln, 6-dp rounding, and the 0.1/0.25 bands
# all mirror the batch operator so the two surfaces read identically.
# Cross-batch continuity is asserted against a pure-Python fold in
# tests/test_streaming.py.
# ---------------------------------------------------------------------------

PSI_MONITOR_BUCKETS = 10
PSI_MONITOR_WIDTH = 10.0  # value units per bucket; last bucket open-ended

PSI_MONITOR_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("psi", DoubleType()),
        StructField("band", StringType()),
    ]
)
PSI_MONITOR_STATE_SCHEMA = StructType(
    [StructField(f"c{b}", LongType()) for b in range(PSI_MONITOR_BUCKETS)]
    + [StructField("n", LongType())]
)


def psi_monitor(df: DataFrame, reference_probs: dict) -> DataFrame:
    """Per-type streaming PSI of the observed `value` bucket
    distribution against a fixed reference distribution
    (``{event_type: [p_0..p_B-1]}``, strictly positive, summing to 1).
    NULL value rows carry no bucket and are dropped, like the batch
    twin drops NULL lengths by schema."""
    import math

    B = PSI_MONITOR_BUCKETS
    refs = {
        k: [float(p) for p in v] for k, v in reference_probs.items()
    }
    for k, v in refs.items():
        if len(v) != B or any(p <= 0 for p in v):
            raise ValueError(
                f"reference for {k!r} needs {B} strictly positive probs"
            )
        # an unnormalized reference silently biases PSI and shifts the
        # drift band instead of failing fast — enforce Σp = 1 here
        if abs(sum(v) - 1.0) > 1e-9:
            raise ValueError(
                f"reference for {k!r} must sum to 1 (got {sum(v)!r})"
            )

    def _bucket(v: float) -> int:
        return min(B - 1, max(0, int(float(v) // PSI_MONITOR_WIDTH)))

    def _fn(key, pdfs, state):
        (etype,) = key
        ref = refs.get(etype)
        prev = state.get if state.exists else (0,) * (B + 1)
        counts, n = list(prev[:B]), prev[B]
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[rows["value"].notna()]
        for v in rows["value"]:
            counts[_bucket(v)] += 1
            n += 1
        state.update((*counts, n))
        if ref is None:
            psi = None
            band = "no_reference"
        else:
            psi = 0.0
            for c, p_ref in zip(counts, ref):
                p_obs = (c + 1) / (n + B)
                psi += (p_obs - p_ref) * math.log(p_obs / p_ref)
            psi = round(psi, 6)
            band = (
                "stable"
                if psi < 0.1
                else "moderate_shift" if psi < 0.25 else "major_shift"
            )
        yield pd.DataFrame(
            {
                "event_type": [etype],
                "n_events": [n],
                "psi": [psi],
                "band": [band],
            }
        )

    return (
        df.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _fn,
            PSI_MONITOR_OUTPUT_SCHEMA,
            PSI_MONITOR_STATE_SCHEMA,
            "update",
            "NoTimeout",
        )
    )


# ---------------------------------------------------------------------------
# Streaming heavy hitters: Space-Saving (Metwally, Agrawal, El Abbadi,
# "Efficient computation of frequent and top-k elements in data
# streams", ICDT 2005) over user_id per event_type, O(capacity) keyed
# state regardless of stream length — the streaming twin of the batch
# q_text_heavy_hitters surface. Each monitored item carries
# (count, err): true_frequency is guaranteed within [count - err,
# count], and `guaranteed` marks items whose lower bound clears the
# current minimum counter (certainly-frequent under the classic
# Space-Saving guarantee). Determinism: rows fold in (ts, event_id)
# order inside each micro-batch and eviction ties break on the
# SMALLEST (count, item) pair, so any micro-batch slicing of the same
# ordered input yields the IDENTICAL monitor state — pinned by the
# cross-batch parity test (tests/test_streaming.py), same contract as
# the EWMA/CUSUM/Holt/PSI monitors above.
# ---------------------------------------------------------------------------

HH_MONITOR_CAPACITY = 8
HH_MONITOR_TOPK = 5

HH_MONITOR_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("rank", IntegerType()),
        StructField("item", LongType()),
        StructField("count_upper", LongType()),
        StructField("err", LongType()),
        StructField("guaranteed", IntegerType()),
    ]
)
HH_MONITOR_STATE_SCHEMA = StructType(
    [
        StructField("items", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
        StructField("errs", ArrayType(LongType())),
        StructField("n", LongType()),
    ]
)


def _hh_fn(key, pdfs, state) -> Iterator[pd.DataFrame]:
    (etype,) = key
    cap = HH_MONITOR_CAPACITY
    if state.exists:
        items, counts, errs, n = state.get
        table = {
            int(i): [int(c), int(e)]
            for i, c, e in zip(items, counts, errs)
        }
        n = int(n)
    else:
        table, n = {}, 0
    rows = pd.concat(list(pdfs), ignore_index=True)
    # rows missing user_id carry no item; rows missing either sort key
    # (ts, event_id) have no well-defined position in the fold order,
    # so a NULL there would make the fold depend on which micro-batch
    # the row lands in — drop them to keep the any-slicing determinism
    # contract total (fixture event rows are non-null in all three)
    rows = rows[
        rows["user_id"].notna()
        & rows["ts"].notna()
        & rows["event_id"].notna()
    ]
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    for item in rows["user_id"].astype("int64"):
        item = int(item)
        n += 1
        if item in table:
            table[item][0] += 1
        elif len(table) < cap:
            table[item] = [1, 0]
        else:
            # evict the deterministic min: smallest count, then
            # smallest item id — the new entry inherits the evicted
            # counter (count+1) with err = evicted count
            victim = min(table, key=lambda it: (table[it][0], it))
            vcount = table[victim][0]
            del table[victim]
            table[item] = [vcount + 1, vcount]
    state.update(
        (
            list(table.keys()),
            [c for c, _ in table.values()],
            [e for _, e in table.values()],
            n,
        )
    )
    min_count = min((c for c, _ in table.values()), default=0)
    top = sorted(
        table.items(), key=lambda kv: (-kv[1][0], kv[0])
    )[:HH_MONITOR_TOPK]
    yield pd.DataFrame(
        {
            "event_type": [etype] * len(top),
            "n_events": [n] * len(top),
            "rank": list(range(1, len(top) + 1)),
            "item": [it for it, _ in top],
            "count_upper": [c for _, (c, _e) in top],
            "err": [e for _, (_c, e) in top],
            "guaranteed": [
                int(c - e >= min_count) for _, (c, e) in top
            ],
        }
    )


def heavy_hitters_monitor(df: DataFrame) -> DataFrame:
    """Per-type streaming top-k users by event volume under O(capacity)
    state: Space-Saving counters with deterministic fold order and
    eviction, emitting (item, count_upper, err, guaranteed) each batch."""
    return (
        df.select("event_type", "ts", "event_id", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            _hh_fn,
            HH_MONITOR_OUTPUT_SCHEMA,
            HH_MONITOR_STATE_SCHEMA,
            "update",
            "NoTimeout",
        )
    )


# ---------------------------------------------------------------------------
# Streaming deterministic reservoir: the EXACT k-per-key uniform sample
# held live over an unbounded stream, O(k) keyed state. Same selection
# rule SHAPE as the batch q_sample_reservoir (md5-rank top-k), on this
# stream's own key: rank every row by md5(event_id || salt) and keep
# the k smallest (rank, id) pairs. (The batch operator ranks DOCUMENTS
# by unsalted md5(doc_id); the two are not literally interchangeable —
# the cross-check here is a pure-Python fold of the identical rank
# rule, tests/test_streaming.py.) The rank is a pure function of the
# ROW, not of arrival order, so the monitor state after any prefix of
# the stream equals that same top-k computed in batch over the
# prefix's rows, and micro-batch slicing provably cannot change it
# (strictly stronger than the fold-order determinism the
# EWMA/CUSUM/Holt monitors need). Emits the current sample each batch.
# ---------------------------------------------------------------------------

RESERVOIR_MONITOR_K = 5
RESERVOIR_MONITOR_SALT = "rsv1"

RESERVOIR_MONITOR_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("rank", IntegerType()),
        StructField("event_id", LongType()),
        StructField("rank_key", StringType()),
    ]
)
RESERVOIR_MONITOR_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(StringType())),
        StructField("ids", ArrayType(LongType())),
        StructField("n", LongType()),
    ]
)


def reservoir_rank_key(event_id: int) -> str:
    import hashlib

    return hashlib.md5(
        f"{event_id}|{RESERVOIR_MONITOR_SALT}".encode()
    ).hexdigest()


def _reservoir_fn(key, pdfs, state) -> Iterator[pd.DataFrame]:
    (etype,) = key
    k = RESERVOIR_MONITOR_K
    if state.exists:
        keys, ids, n = state.get
        sample = list(zip(list(keys), [int(i) for i in ids]))
        n = int(n)
    else:
        sample, n = [], 0
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows[rows["event_id"].notna()]
    for eid in rows["event_id"].astype("int64"):
        eid = int(eid)
        n += 1
        sample.append((reservoir_rank_key(eid), eid))
    # selection is a pure order-free top-k by (rank_key, id)
    sample = sorted(set(sample))[:k]
    state.update(([rk for rk, _ in sample], [i for _, i in sample], n))
    yield pd.DataFrame(
        {
            "event_type": [etype] * len(sample),
            "n_events": [n] * len(sample),
            "rank": list(range(1, len(sample) + 1)),
            "event_id": [i for _, i in sample],
            "rank_key": [rk for rk, _ in sample],
        }
    )


def reservoir_monitor(df: DataFrame) -> DataFrame:
    """Live exact-k uniform sample per event type under O(k) keyed
    state; md5-rank selection makes the sample a pure function of the
    rows seen, independent of micro-batch slicing and arrival order."""
    return (
        df.select("event_type", "event_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            _reservoir_fn,
            RESERVOIR_MONITOR_OUTPUT_SCHEMA,
            RESERVOIR_MONITOR_STATE_SCHEMA,
            "update",
            "NoTimeout",
        )
    )


# ---------------------------------------------------------------------------
# Streaming funnel: the live twin of q_events_funnel_single_pass. Keyed
# per-user state holds the 4-slot greedy fold accumulator (first
# qualifying timestamp per stage, each strictly after the previous
# stage's), so a user's stage is always current as events arrive;
# each batch emits the updated users' (stage, t1..t4). Per-user state
# is four epoch-micro longs — O(users) total, the documented lever at
# stream scale being a state TTL (drop users idle past the conversion
# window, exactly the watermark trade q_events_funnel_window makes in
# batch). Determinism contract matches the EWMA/CUSUM family: rows
# fold in (ts, event_id) order within each micro-batch, so time-ordered
# slicing reproduces the batch fold exactly (parity-tested against the
# registered batch query on the same rows). Downstream per-stage counts
# are a plain foreachBatch rollup (funnel_stage_counts) — chaining a
# second stateful aggregate after applyInPandasWithState is the one
# composition structured streaming restricts.
# ---------------------------------------------------------------------------

FUNNEL_MONITOR_STAGES = ("signup", "view", "click", "purchase")

FUNNEL_MONITOR_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", IntegerType()),
        StructField("t1_us", LongType()),
        StructField("t2_us", LongType()),
        StructField("t3_us", LongType()),
        StructField("t4_us", LongType()),
    ]
)
FUNNEL_MONITOR_STATE_SCHEMA = StructType(
    [StructField(f"t{i}_us", LongType()) for i in range(1, 5)]
)


def _funnel_fn(key, pdfs, state, idle_timeout=None) -> Iterator[pd.DataFrame]:
    if getattr(state, "hasTimedOut", False):
        # state TTL fired: the user has been idle past idle_timeout —
        # drop their slots. A later event restarts their funnel from
        # scratch, exactly the conversion-window trade
        # q_events_funnel_window makes in batch.
        state.remove()
        return
    (user_id,) = key
    if user_id is None or (isinstance(user_id, float) and pd.isna(user_id)):
        # a NULL user (None or NaN depending on the Arrow path) is not
        # a funnel participant; emitting it would crash the int() cast
        # below — drain and drop the group
        for _ in pdfs:
            pass
        return
    ts_slots = list(state.get) if state.exists else [None, None, None, None]
    rows = pd.concat(list(pdfs), ignore_index=True)
    # same totality rule as _hh_fn: a NULL in either sort key would
    # leave the row's fold position slicing-dependent (two NULL
    # event_ids at one ts fall back to arrival order under the stable
    # sort), so both keys must be present
    rows = rows[rows["ts"].notna() & rows["event_id"].notna()]
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    for _, row in rows.iterrows():
        etype = row["event_type"]
        if etype not in FUNNEL_MONITOR_STAGES:
            continue
        i = FUNNEL_MONITOR_STAGES.index(etype)
        ts_us = int(row["ts"].value) // 1000  # ns -> us
        if ts_slots[i] is not None:
            continue
        if i == 0:
            ts_slots[0] = ts_us
        elif ts_slots[i - 1] is not None and ts_us > ts_slots[i - 1]:
            ts_slots[i] = ts_us
    state.update(tuple(ts_slots))
    if idle_timeout is not None:
        state.setTimeoutDuration(idle_timeout)
    stage = 0
    for t in ts_slots:
        if t is None:
            break
        stage += 1
    yield pd.DataFrame(
        {
            "user_id": [int(user_id)],
            "stage": [stage],
            "t1_us": [ts_slots[0]],
            "t2_us": [ts_slots[1]],
            "t3_us": [ts_slots[2]],
            "t4_us": [ts_slots[3]],
        }
    )


def funnel_monitor(df: DataFrame, *, idle_timeout: str | None = None) -> DataFrame:
    """Live per-user funnel progress under 4-slot keyed state; emits
    each updated user's stage and per-stage first timestamps. NULL
    user_id rows are dropped (no participant to attribute them to) —
    note the batch funnel would surface them as a NULL-user group, so
    the live/batch parity contract covers non-NULL users.

    ``idle_timeout`` (e.g. ``"30 days"``) arms a processing-time state
    TTL: users idle past it are evicted, bounding total state at
    O(active users in the window) instead of O(all users ever seen) —
    the documented unbounded-cardinality lever. An evicted user's next
    event restarts their funnel, the same conversion-window trade
    q_events_funnel_window makes in batch; parity with the batch
    funnel holds exactly when no eviction fires (the default)."""
    if idle_timeout is None:
        fn, timeout_conf = _funnel_fn, "NoTimeout"
    else:
        # parse once at build time: setTimeoutDuration takes int ms only
        timeout_ms = duration_ms(idle_timeout)

        def fn(key, pdfs, state):
            return _funnel_fn(key, pdfs, state, idle_timeout=timeout_ms)

        timeout_conf = "ProcessingTimeTimeout"
    return (
        df.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            FUNNEL_MONITOR_OUTPUT_SCHEMA,
            FUNNEL_MONITOR_STATE_SCHEMA,
            "update",
            timeout_conf,
        )
    )


def funnel_stage_counts(latest_rows) -> dict:
    """Per-stage cumulative user counts from the newest monitor row per
    user: n of stage s = users whose stage >= s (the batch funnel's
    n_signup/n_view/n_click/n_purchase)."""
    counts = {s: 0 for s in range(1, 5)}
    for r in latest_rows:
        for s in range(1, r.stage + 1):
            counts[s] += 1
    return {
        "n_signup": counts[1],
        "n_view": counts[2],
        "n_click": counts[3],
        "n_purchase": counts[4],
    }


# ---------------------------------------------------------------------------
# Streaming exact-quantile monitor. Live p50/p95/p99 per event type —
# the canonical latency-SLO ask — from a value-domain histogram kept
# as keyed state: two sorted parallel arrays (distinct integer cents,
# counts). This is the streaming form of the batch rank discipline
# (q_agg_percentile and the rank kit collapse to the integer-cent
# VALUE DOMAIN, never rows), so state per key is bounded by distinct
# cent values, not stream length. Percentiles are NEAREST-RANK
# (k = ceil(p*n), computed in exact integer arithmetic) so the emitted
# value is always an observed data point and the monitor state +
# output are pure functions of the multiset of rows seen — micro-batch
# slicing provably cannot change them (tested under two slicings
# against a pure-Python reference in tests/test_streaming.py).
# ---------------------------------------------------------------------------

QUANTILE_MONITOR_PS = ((50, 1, 2), (95, 19, 20), (99, 99, 100))
# (label, num, den): k = ceil(num*n/den) = (num*n + den - 1) // den

QUANTILE_MONITOR_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("n_distinct", LongType()),
        StructField("p50_dollars", DoubleType()),
        StructField("p95_dollars", DoubleType()),
        StructField("p99_dollars", DoubleType()),
    ]
)
QUANTILE_MONITOR_STATE_SCHEMA = StructType(
    [
        StructField("vals", ArrayType(LongType())),
        StructField("cnts", ArrayType(LongType())),
    ]
)


def quantile_cents(v: float) -> int:
    """HALF-AWAY-FROM-ZERO cents of the exact binary double — the same
    collapse as F.round(value*100) (see cusum_monitor's _cents)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(float(v) * 100).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    )


def nearest_rank_cents(vals, cnts, num: int, den: int) -> int:
    """The ceil(num*n/den)-th smallest cent of the histogram, exact
    integer arithmetic end to end."""
    n = sum(cnts)
    k = (num * n + den - 1) // den
    run = 0
    for v, c in zip(vals, cnts):
        run += c
        if run >= k:
            return int(v)
    raise AssertionError("rank beyond histogram mass")


def _quantile_fn(key, pdfs, state, idle_timeout=None):
    if getattr(state, "hasTimedOut", False):
        # state TTL fired: the event type has been idle past
        # idle_timeout — drop its histogram; the next event restarts
        # the percentile window from scratch (same trade as
        # funnel_monitor's idle TTL)
        state.remove()
        return
    (etype,) = key
    if state.exists:
        vals, cnts = state.get
        hist = dict(zip(vals, cnts))
    else:
        hist = {}
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows[rows["value"].notna()]
    for v in rows["value"]:
        c = quantile_cents(v)
        hist[c] = hist.get(c, 0) + 1
    vals = sorted(hist)
    cnts = [hist[v] for v in vals]
    state.update((vals, cnts))
    if idle_timeout is not None:
        state.setTimeoutDuration(idle_timeout)
    n = sum(cnts)
    if n == 0:
        return
    qs = {
        f"p{lbl}_dollars": [nearest_rank_cents(vals, cnts, num, den) / 100]
        for lbl, num, den in QUANTILE_MONITOR_PS
    }
    yield pd.DataFrame(
        {
            "event_type": [etype],
            "n_events": [n],
            "n_distinct": [len(vals)],
            **qs,
        }
    )


def quantile_monitor(
    df: DataFrame, *, idle_timeout: str | None = None
) -> DataFrame:
    """Live exact nearest-rank p50/p95/p99 of `value` per event type
    under value-domain-bounded keyed state; emits the updated
    percentiles each micro-batch the key appears in. NULL value rows
    carry no magnitude and are dropped, like the batch rank kit.

    ``idle_timeout`` (e.g. ``"30 days"``) arms the same processing-time
    state TTL funnel_monitor has: event types idle past it are evicted,
    bounding total state at O(active keys x their value domains) when
    the KEY cardinality itself is unbounded (per-tenant or per-object
    streams). An evicted key's next event restarts its histogram;
    parity with the batch rank kit holds exactly when no eviction
    fires (the default)."""
    if idle_timeout is None:
        fn, timeout_conf = _quantile_fn, "NoTimeout"
    else:
        # parse once at build time: setTimeoutDuration takes int ms only
        timeout_ms = duration_ms(idle_timeout)

        def fn(key, pdfs, state):
            return _quantile_fn(key, pdfs, state, idle_timeout=timeout_ms)

        timeout_conf = "ProcessingTimeTimeout"
    return (
        df.select("event_type", "ts", "event_id", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            QUANTILE_MONITOR_OUTPUT_SCHEMA,
            QUANTILE_MONITOR_STATE_SCHEMA,
            "update",
            timeout_conf,
        )
    )


# ---------------------------------------------------------------------------
# Streaming burst monitor: the live twin of q_time_burst_detection.
# Keyed state per event type is the trailing hour-bucket histogram —
# (epoch-hour, count) parallel arrays truncated to the NEWEST
# BURST_MONITOR_KEEP OBSERVED buckets. Observed-bucket retention (not
# a wall-hour horizon) matches the batch twin's ROWS frame exactly:
# the baseline is the previous 24 OBSERVED buckets regardless of hour
# gaps, so a sparse stream fills its baseline and reports ratios just
# like the batch query (round-9 ADVICE: the previous newest-24h
# horizon kept the streaming ratio NULL across any gap where the
# batch twin reported one). State stays bounded by the 25-bucket cap,
# never stream length, and bucket COUNTING is order-free (a pure
# function of the retained rows' multiset: stronger than the
# fold-order contract the CUSUM/EWMA family needs). Lateness: a row
# older than the oldest retained bucket (once 25 are held) creates a
# bucket that is pruned immediately — the ROWS-frame analog of a
# watermark drop; under time-ordered slicing no row is ever dropped.
# Corruption guard (round-9 ADVICE): a SINGLETON bucket more than
# BURST_MONITOR_MAX_AHEAD hours ahead of every other observed hour is
# rejected as a corrupt timestamp — previously one such row evicted
# the whole histogram and silenced the monitor for ~25 h. A genuine
# post-outage resume delivers multiple events (count >= 2, or nearby
# buckets), so it passes; the guard is an explicit, documented
# divergence from the batch twin, which has no notion of corruption.
# Each batch emits the newest hour's count against the sum of the 24
# preceding retained buckets with the batch operator's integer
# cross-multiplication flag (n*base_n >= 2*base_sum — no float in the
# decision); ratio is NULL until a full 24-bucket baseline exists,
# exactly like the batch twin's base_n = 24 filter.
# ---------------------------------------------------------------------------

BURST_MONITOR_BASE = 24
BURST_MONITOR_KEEP = BURST_MONITOR_BASE + 1
BURST_MONITOR_MAX_AHEAD = 7 * 24  # singleton buckets further ahead = corrupt

BURST_MONITOR_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("bar_hour_epoch", LongType()),
        StructField("n_events", LongType()),
        StructField("base_hours", LongType()),
        StructField("base_sum", LongType()),
        StructField("ratio", DoubleType()),
        StructField("is_burst", IntegerType()),
    ]
)
BURST_MONITOR_STATE_SCHEMA = StructType(
    [
        StructField("hours", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


def _burst_fn(key, pdfs, state) -> Iterator[pd.DataFrame]:
    (etype,) = key
    if state.exists:
        hours_s, counts_s = state.get
        hist = dict(zip([int(h) for h in hours_s], [int(c) for c in counts_s]))
    else:
        hist = {}
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows[rows["ts"].notna()]
    for ts in rows["ts"]:
        h = int(ts.value) // (3600 * 10**9)  # ns -> hour
        hist[h] = hist.get(h, 0) + 1
    if not hist:
        # nothing observed yet for this key (e.g. an all-NULL-ts first
        # batch): write NO state rather than persisting empty arrays
        return
    # corruption guard: strip singleton buckets implausibly far ahead
    # of every other observed hour (see the block comment above);
    # deterministic and order-free — a function of the bucket multiset
    while len(hist) >= 2:
        top = max(hist)
        rest_max = max(h for h in hist if h != top)
        if hist[top] == 1 and top - rest_max > BURST_MONITOR_MAX_AHEAD:
            del hist[top]
        else:
            break
    # retain the newest KEEP OBSERVED buckets — the batch twin's ROWS
    # frame (24 PRECEDING .. 1 PRECEDING over observed buckets)
    keep = sorted(hist)[-BURST_MONITOR_KEEP:]
    hist = {h: hist[h] for h in keep}
    state.update((list(keep), [hist[h] for h in keep]))
    newest = keep[-1]
    base = keep[:-1][-BURST_MONITOR_BASE:]
    base_sum = sum(hist[h] for h in base)
    n = hist[newest]
    full = len(base) == BURST_MONITOR_BASE
    yield pd.DataFrame(
        {
            "event_type": [etype],
            "bar_hour_epoch": [newest * 3600],
            "n_events": [n],
            "base_hours": [len(base)],
            "base_sum": [base_sum],
            "ratio": [
                round(n * len(base) / base_sum, 6) if full else None
            ],
            "is_burst": [
                int(n * len(base) >= 2 * base_sum) if full else None
            ],
        }
    )


def burst_monitor(df: DataFrame) -> DataFrame:
    """Live hourly-rate burst flag per event type under
    horizon-bounded keyed state (25 hour buckets); NULL ts rows carry
    no bucket and are dropped."""
    return (
        df.select("event_type", "ts")
        .groupBy("event_type")
        .applyInPandasWithState(
            _burst_fn,
            BURST_MONITOR_OUTPUT_SCHEMA,
            BURST_MONITOR_STATE_SCHEMA,
            "update",
            "NoTimeout",
        )
    )


# ---------------------------------------------------------------------------
# Streaming max-drawdown monitor: the live form of
# q_window_max_drawdown's running-max discipline, on the stream's own
# (event_type, value) series. State per key is exactly the two
# integers the batch window pass carries per row — running peak and
# max drawdown (plus n) — O(1) regardless of stream length; the fold
# is the same sequential recurrence, applied in (ts, event_id) order
# within each micro-batch, so time-ordered slicing reproduces the
# batch fold exactly (the CUSUM/EWMA/Holt determinism contract; rows
# missing ts, event_id, or value are dropped to keep the order
# total). Cents conversion is the shared half-away-from-zero rule so
# the monitor agrees with the batch kit's integer-cent domain.
# ---------------------------------------------------------------------------

DRAWDOWN_MONITOR_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("peak_dollars", DoubleType()),
        StructField("max_drawdown_dollars", DoubleType()),
    ]
)
DRAWDOWN_MONITOR_STATE_SCHEMA = StructType(
    [
        StructField("peak_cents", LongType()),
        StructField("max_dd_cents", LongType()),
        StructField("n", LongType()),
    ]
)


def drawdown_cents(v: float) -> int:
    """Half-away-from-zero cents — delegates to the one shared
    cent-conversion rule (see quantile_cents) so the monitors can
    never disagree on a boundary."""
    return quantile_cents(v)


def _drawdown_fn(key, pdfs, state, idle_timeout=None) -> Iterator[pd.DataFrame]:
    if getattr(state, "hasTimedOut", False):
        # state TTL fired: idle key evicted (same trade as
        # funnel_monitor's idle TTL); the next event restarts the
        # peak/drawdown series from scratch
        state.remove()
        return
    (etype,) = key
    if state.exists:
        peak, dd, n = (int(x) for x in state.get)
    else:
        peak, dd, n = None, 0, 0
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows[
        rows["ts"].notna() & rows["event_id"].notna() & rows["value"].notna()
    ]
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    for v in rows["value"]:
        c = drawdown_cents(v)
        peak = c if peak is None else max(peak, c)
        dd = max(dd, peak - c)
        n += 1
    if n == 0:
        return
    state.update((peak, dd, n))
    if idle_timeout is not None:
        state.setTimeoutDuration(idle_timeout)
    yield pd.DataFrame(
        {
            "event_type": [etype],
            "n_events": [n],
            "peak_dollars": [peak / 100],
            "max_drawdown_dollars": [dd / 100],
        }
    )


def drawdown_monitor(
    df: DataFrame, *, idle_timeout: str | None = None
) -> DataFrame:
    """Live running-peak / max-drawdown of `value` per event type under
    O(1) keyed state; rows missing ts, event_id, or value are dropped
    to keep the fold order total.

    ``idle_timeout`` arms the shared processing-time state TTL (see
    quantile_monitor/funnel_monitor): idle keys are evicted so total
    state stays O(active keys) when key cardinality is unbounded; an
    evicted key's next event restarts its series."""
    if idle_timeout is None:
        fn, timeout_conf = _drawdown_fn, "NoTimeout"
    else:
        # parse once at build time: setTimeoutDuration takes int ms only
        timeout_ms = duration_ms(idle_timeout)

        def fn(key, pdfs, state):
            return _drawdown_fn(key, pdfs, state, idle_timeout=timeout_ms)

        timeout_conf = "ProcessingTimeTimeout"
    return (
        df.select("event_type", "ts", "event_id", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            DRAWDOWN_MONITOR_OUTPUT_SCHEMA,
            DRAWDOWN_MONITOR_STATE_SCHEMA,
            "update",
            timeout_conf,
        )
    )


# ---------------------------------------------------------------------------
# Cross-run dedup store maintenance, live: the nightly-ingest loop of
# q_dedup_incremental (llm/dedup.py). Each micro-batch of NEW documents
# is deduped against EVERYTHING previously seen using only the persisted
# MinHash signature store — the standing corpus text is never re-read
# and its pair space is never re-formed. The store is append-only
# (per-batch signature shards, so a nightly run writes O(batch), never
# rewrites the O(corpus) store) with the rollup_maintainer commit
# discipline: stage new dirs, then atomically rename the marker naming
# the newest committed batch; at-least-once replays no-op. Signatures
# of kept AND dropped docs persist — near-dup similarity is not
# transitive, so dropping a doc must not un-block its future near-dups
# (the same earlier-set rule the registered query's oracle certifies).
# ---------------------------------------------------------------------------


def signature_store_maintainer(
    base_dir: str, corpus_pred=None, compact_every: int = 16
):
    """foreachBatch callback maintaining a MinHash signature store and
    emitting per-batch keep/drop decisions under ``base_dir``:

        sigs_batch=<n>/       signatures of batch n's docs (append-only)
        sigs_compact=<n>/     a compaction of every shard through n
        decisions_batch=<n>/  that batch's keep/drop decision rows
        _committed            marker: newest committed batch id + the
                              live signature dirs + deferred deletes

    Input batches carry (doc_id, text). Decisions come from the shared
    incremental_dedup_decisions with standing = all committed
    signatures. dup_src semantics follow ``corpus_pred`` (see the
    shared function's docstring): None labels any EARLIER BATCH
    'corpus' — right when each micro-batch is its own ingest run;
    to replay the registered q_dedup_incremental rule byte-for-byte
    when one logical shard spans several batches, pass the rule's own
    membership predicate and feed shard batches in ascending-id order
    (tests/test_incremental_dedup.py pins both modes, the predicate
    one at the driver's sf0.01 where cross-batch shard matches exist).

    Every ``compact_every`` committed shards the store compacts into
    ONE ``sigs_compact=<n>`` dir (via sources.tabular.compact_parquet),
    so a long-lived stream's standing read stays O(1) directories
    instead of accumulating thousands of tiny shards whose
    listing/footer cost grows per batch; decisions are unaffected (the
    compacted table is the same row multiset). Superseded dirs are NOT
    deleted at the commit that orphans them — an in-flight reader that
    resolved the old marker gets one full commit cycle — they're
    deleted at the NEXT commit (the marker's ``garbage`` list), and
    at-least-once replays of that delete are idempotent.

    The marker is a JSON document naming the committed dirs EXPLICITLY
    — the standing read never assumes batch ids are contiguous from 0,
    so a gap can neither drop a shard nor reference a directory that
    was never committed. One store belongs to ONE stream checkpoint:
    a replayed batch id must carry the SAME rows that were committed
    under that id (checked against the decision shard's doc_id
    count + hash sum), so pointing a fresh checkpoint at an existing
    store raises instead of silently swallowing its restarted ids as
    replays — including the id-0-on-a-one-batch-store case a
    last-batch-only guard misses."""
    import json as _json
    import os

    from ..llm.dedup import incremental_dedup_decisions, mh_signature_table
    from ..sources.tabular import compact_parquet, write_parquet

    def _committed(marker: str) -> dict:
        if not os.path.exists(marker):
            return {"last_batch": -1, "shards": [], "sig_dirs": [],
                    "garbage": []}
        with open(marker) as fh:
            state = _json.load(fh)
        # markers written before compaction existed name int shard ids
        # only; derive the signature dirs they imply
        state.setdefault(
            "sig_dirs", [f"sigs_batch={k}" for k in state["shards"]]
        )
        state.setdefault("garbage", [])
        return state

    def _doc_fingerprint(df: DataFrame):
        row = df.select(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.hash("doc_id").cast("long")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = os.path.join(base_dir, "_committed")
        state = _committed(marker)
        live = state["last_batch"]
        if live >= batch_id:
            foreign = batch_id == 0 and live > 0
            if not foreign:
                if batch_id not in state["shards"]:
                    foreign = True  # replay claims an id never committed
                else:
                    committed_docs = spark.read.parquet(
                        os.path.join(base_dir, f"decisions_batch={batch_id}")
                    ).select("doc_id")
                    foreign = _doc_fingerprint(
                        batch_df.select("doc_id")
                    ) != _doc_fingerprint(committed_docs)
            if foreign:
                raise ValueError(
                    f"signature store at {base_dir} was committed through "
                    f"batch {live} by another checkpoint (replayed id "
                    f"{batch_id} does not match its committed rows); a "
                    "restarted batch-id sequence would silently drop new "
                    "documents as replays — use a fresh store dir or the "
                    "original checkpoint"
                )
            return  # replayed batch — already committed
        new_sigs = mh_signature_table(batch_df)
        committed_shards = [
            os.path.join(base_dir, d) for d in state["sig_dirs"]
        ]
        standing = (
            spark.read.parquet(*committed_shards)
            if committed_shards
            else new_sigs.limit(0)
        )
        decisions = incremental_dedup_decisions(
            batch_df.select("doc_id"), new_sigs, standing, corpus_pred
        )
        write_parquet(
            decisions,
            os.path.join(base_dir, f"decisions_batch={batch_id}"),
            mode="overwrite",
        )
        write_parquet(
            new_sigs,
            os.path.join(base_dir, f"sigs_batch={batch_id}"),
            mode="overwrite",
        )
        sig_dirs = state["sig_dirs"] + [f"sigs_batch={batch_id}"]
        garbage: list[str] = []
        if len(sig_dirs) >= compact_every:
            compact_dir = f"sigs_compact={batch_id}"
            compact_parquet(
                spark,
                [os.path.join(base_dir, d) for d in sig_dirs],
                os.path.join(base_dir, compact_dir),
            )
            garbage = sig_dirs  # deleted at the NEXT commit
            sig_dirs = [compact_dir]
        tmp_marker = marker + ".tmp"
        with open(tmp_marker, "w") as fh:
            _json.dump(
                {
                    "last_batch": batch_id,
                    "shards": state["shards"] + [batch_id],
                    "sig_dirs": sig_dirs,
                    "garbage": garbage,
                },
                fh,
            )
        os.replace(tmp_marker, marker)
        # Prune by SWEEP, not by the previous marker's garbage list
        # (round-13 advisor): any sigs dir the just-committed marker
        # references neither as live (sig_dirs) nor in its one-cycle
        # grace list (garbage) is superseded and has survived at least
        # one full commit cycle — INCLUDING dirs leaked by a crash
        # between a past commit's marker replace and its prune, which
        # the list-based delete would have orphaned forever (the
        # cms_sketch_maintainer discipline applied here).
        import shutil

        keep = set(sig_dirs) | set(garbage)
        for name in os.listdir(base_dir):
            if not (
                name.startswith("sigs_batch=")
                or name.startswith("sigs_compact=")
            ):
                continue
            if name not in keep:
                shutil.rmtree(
                    os.path.join(base_dir, name), ignore_errors=True
                )

    return apply_batch


def committed_decisions(spark, base_dir: str) -> DataFrame:
    """Union of all committed decision shards (for readers)."""
    import json as _json
    import os

    marker = os.path.join(base_dir, "_committed")
    with open(marker) as fh:
        state = _json.load(fh)
    return spark.read.parquet(
        *[
            os.path.join(base_dir, f"decisions_batch={k}")
            for k in state["shards"]
        ]
    )


# ---------------------------------------------------------------------------
# Count-Min sketch maintenance, live: the streaming leg of the batch
# q_agg_cms_heavy_hitters (queries/aggregates.py) —
# CMS is mergeable by CELL-WISE ADDITION, so each micro-batch
# partial-aggregates only its own rows into a d x w grid and adds it
# into the standing sketch: the maintained table always equals the
# from-scratch sketch over everything ingested (the
# rollup_maintainer algebra applied to a sketch), and every per-key
# frequency question is then a broadcast lookup against d*w = 2048
# cells, never a rescan. Bucket hashing imports THE one md5-mod
# definition the batch twin and its oracle share, so the three can
# never diverge. Same versioned-dir + atomic-marker commit discipline;
# at-least-once replays no-op. The superseded version is retained for
# one commit cycle (in-flight readers of the old marker finish their
# lazy scans); older versions — including any leaked by a crash between
# commit and prune — are garbage-collected at each commit.
# ---------------------------------------------------------------------------


def cms_sketch_maintainer(base_dir: str, key_col: str = "o_custkey"):
    """foreachBatch callback maintaining a Count-Min sketch over
    ``key_col`` under ``base_dir`` (cms_batch=<n> dirs + _committed
    marker). Maintained cells are test-pinned equal to the one-shot
    grid over all rows ingested (tests/test_streaming.py)."""
    import os

    from pyspark.sql import functions as F

    from ..queries.aggregates import _CMS_D, _cms_bucket

    def _committed(marker: str) -> int:
        if not os.path.exists(marker):
            return -1
        with open(marker) as fh:
            return int(fh.read().strip())

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = os.path.join(base_dir, "_committed")
        live = _committed(marker)
        if live >= batch_id:
            return  # replayed batch — already committed
        partial = (
            batch_df.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(i).alias("depth"),
                            _cms_bucket(i, F.col(key_col)).alias("bucket"),
                        )
                        for i in range(_CMS_D)
                    ])
                ).alias("db")
            )
            .groupBy("db.depth", "db.bucket")
            .agg(F.count("*").cast("long").alias("c"))
        )
        if live >= 0:
            standing = spark.read.parquet(
                os.path.join(base_dir, f"cms_batch={live}")
            )
            merged = (
                standing.unionByName(partial)
                .groupBy("depth", "bucket")
                .agg(F.sum("c").cast("long").alias("c"))
            )
        else:
            merged = partial
        new_dir = os.path.join(base_dir, f"cms_batch={batch_id}")
        merged.write.mode("overwrite").parquet(new_dir)
        tmp_marker = marker + ".tmp"
        with open(tmp_marker, "w") as fh:
            fh.write(str(batch_id))
        os.replace(tmp_marker, marker)
        # Retain the immediately superseded version: a reader that
        # resolved current_cms_dir() just before this commit still has
        # a full commit cycle to finish its (lazy) scan. Prune
        # everything OLDER than that — which also garbage-collects
        # versions leaked by a crash between a past commit and its
        # prune (nothing else ever deletes them).
        import shutil

        for name in os.listdir(base_dir):
            if not name.startswith("cms_batch="):
                continue
            version = int(name.split("=", 1)[1])
            if version not in (batch_id, live):
                shutil.rmtree(
                    os.path.join(base_dir, name), ignore_errors=True
                )

    return merge_batch


def current_cms_dir(base_dir: str) -> str:
    """Path of the committed sketch version (for readers)."""
    import os

    marker = os.path.join(base_dir, "_committed")
    with open(marker) as fh:
        return os.path.join(base_dir, f"cms_batch={int(fh.read().strip())}")
