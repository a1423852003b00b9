"""Event-time operators in batch form (SURVEY.md §2.2 streaming kit):
tumbling/sliding/session windows, keyed dedup-keep-first. The same
expressions run under readStream with watermarks (see streaming/); here
they run on the batch events table so the DuckDB oracle can check them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.segmented import segmented_running_max
from ..registry import query
from ..tables import checkpoint_sort, load
from . import DEC, davg, dsum, sql_davg, sql_dsum, sql_to_dbl, to_dbl

_TUMBLE_ORACLE = f"""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start,
       event_type,
       count(*) AS n,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY w_start, event_type
ORDER BY w_start, event_type
"""


@query("q_time_tumbling_window", oracle=_TUMBLE_ORACLE)
def q_time_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            to_dbl(F.sum(F.col("value").cast(DEC))).alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "total_value")
        .orderBy("w_start", "event_type")
    )


# Sliding window 1h every 30min: each event lands in 2 windows. Oracle
# materializes the same two window-starts per event with unnest.
_SLIDE_ORACLE = """
SELECT w_start, count(*) AS n
FROM (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS w_start
  FROM events
)
GROUP BY w_start
ORDER BY w_start
"""


@query("q_time_sliding_window", oracle=_SLIDE_ORACLE)
def q_time_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
        .orderBy("w_start")
    )


# Session windows (30-minute gap). Spark's native session_window merges
# events whose gaps are < gap; the oracle reconstructs identical sessions
# with the classic lag/cumsum island technique.
_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM numbered
GROUP BY user_id, session_no
ORDER BY user_id, session_start
"""


@query("q_time_session_window", oracle=_SESSION_ORACLE)
def q_time_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
        .select("user_id", "session_start", "n_events")
        # checkpoint_sort: don't re-run the session merge in the
        # range-bound sampling pass. Checkpointed frame: O(sessions)
        # narrow rows. Round-15 honest A/B (full recompute per rep):
        # keep 0.38 s vs plain orderBy 0.45 s — KEPT (contrast q_join_asof,
        # where the same trade reverted)
        .transform(lambda d: checkpoint_sort(d, "user_id", "session_start"))
    )


# Streaming-dedup semantics in batch: keep the FIRST event per
# (user_id, event_type) in event-time order — the deterministic analog of
# dropDuplicates on a stream.
_DEDUPFIRST_ORACLE = """
SELECT user_id, event_type, event_id, ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id, event_type
"""


@query("q_time_dedup_keep_first", oracle=_DEDUPFIRST_ORACLE)
def q_time_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    )


# Late-data accounting relative to a watermark horizon: how many events
# arrive out-of-order by more than 10 minutes per type (the batch view of
# what a watermark would drop).
_LATE_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN lateness >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END) AS BIGINT) AS n_late
FROM (
  SELECT event_type,
         max(ts) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ts AS lateness
  FROM events
)
GROUP BY event_type
ORDER BY event_type
"""


# Bucket widths for the segmented running max below. 4096-ary keeps the
# per-task work bounded at every level: with n events, level-0 windows
# hold <= _LATE_W rows each, the level-1 offset windows (partitioned by
# superbucket) hold <= _LATE_SB bucket rows each, and the single
# unpartitioned level-2 window runs over n/(_LATE_W*_LATE_SB) superbucket
# rows — ~60k at 1e12 events, one comfortable task. Small enough that
# sf0.01 (~tens of thousands of events) exercises the bucket merge in
# the driver's hash check, not just in unit tests.
_LATE_W = 4096
_LATE_SB = 4096


@query("q_time_late_data", oracle=_LATE_ORACLE)
def q_time_late_data(
    spark: SparkSession,
    sf_dir: str,
    *,
    _w: int = _LATE_W,
    _sb: int = _LATE_SB,
) -> DataFrame:
    """Watermark-lateness accounting: events out-of-order by >= 10 min vs
    the running max ts over the event_id total order, counted per type.

    Scale shape: the naive form is ONE unpartitioned ordered window over
    every event — a single task owning the whole table at cluster scale.
    A running max is an associative prefix scan, so it decomposes into
    the segmented two-level pattern proven on q_events_concurrency:
    bucket-local running max (window partitioned by event_id bucket) +
    per-bucket maxima merged through a bounded superbucket level (the
    shared operators/segmented.py helper — NULL semantics, the
    two-scans-beat-a-sort trade, and the null-safe joins are documented
    there once). The oracle states the semantics with the plain global
    window; the hash match proves the decomposition exact. _w/_sb are
    test seams (tiny widths force multi-level merges on small
    fixtures)."""
    e = load(spark, sf_dir, "events")
    ev = e.select(
        "event_type",
        "event_id",
        "ts",
        F.floor(F.col("event_id") / _w).alias("bucket"),
    ).withColumn("sbucket", F.floor(F.col("bucket") / _sb))
    ranked = segmented_running_max(
        ev,
        value="ts",
        order_cols=("event_id",),
        bucket="bucket",
        superbucket="sbucket",
        out="run_max",
    )
    lateness = F.col("run_max").cast("long") - F.col("ts").cast("long")
    return (
        ranked.select("event_type", lateness.alias("lateness_s"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("lateness_s") >= 600, 1).otherwise(0)).alias("n_late"),
        )
        .orderBy("event_type")
    )


# Hypertable-style hierarchical rollup: the fine (hourly) continuous
# aggregate is computed once and the coarse (daily) level re-aggregates
# the hourly partials instead of rescanning raw events — at 100 TB the
# daily pass reads n_hours x n_types rows, not the event stream. Exact
# decimal partials re-aggregate losslessly (sum of sums), which is why
# the coarse level can be derived at all; the final to-double cast
# happens only at each emitted level.
_ROLLUP2_ORACLE = f"""
WITH hourly AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS h_start,
         event_type,
         count(*) AS n,
         sum(CAST(value AS DECIMAL(18,4))) AS dec_value
  FROM events
  GROUP BY h_start, event_type
)
SELECT time_bucket(INTERVAL 1 DAY, h_start) AS d_start,
       event_type,
       count(*) AS n_hours,
       CAST(sum(n) AS BIGINT) AS n_events,
       {sql_to_dbl('sum(dec_value)')} AS total_value
FROM hourly
GROUP BY d_start, event_type
ORDER BY d_start, event_type
"""


@query("q_time_hypertable_rollup", oracle=_ROLLUP2_ORACLE)
def q_time_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.window("ts", "1 hour").alias("hw"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(DEC)).alias("dec_value"),
    )
    return (
        hourly.groupBy(
            F.window(F.col("hw.start"), "1 day").alias("dw"), "event_type"
        )
        .agg(
            F.count("*").alias("n_hours"),
            F.sum("n").alias("n_events"),
            to_dbl(F.sum("dec_value")).alias("total_value"),
        )
        .select(
            F.col("dw.start").alias("d_start"),
            "event_type",
            "n_hours",
            "n_events",
            "total_value",
        )
        .orderBy("d_start", "event_type")
    )


# Gap-fill + forward-fill: the time-series resample op. Build each
# user's dense hourly grid with sequence()+explode (rows = span hours,
# bounded, no cross join), left-join the real hourly aggregates, then
# carry the last observed sum forward with last(ignorenulls) — all
# native expressions, one join shuffle + one window shuffle on user_id.
_GAP_FILL_ORACLE = f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         count(*) AS n_events,
         {sql_dsum('value')} AS hour_sum
  FROM events WHERE user_id < 8
  GROUP BY user_id, date_trunc('hour', ts)
),
spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM spans
)
SELECT g.user_id, g.h,
       coalesce(n_events, 0) AS n_events,
       last_value(hour_sum IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
FROM grid g LEFT JOIN hourly USING (user_id, h)
ORDER BY user_id, h
"""


@query("q_time_gap_fill", oracle=_GAP_FILL_ORACLE)
def q_time_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count("*").alias("n_events"),
        to_dbl(F.sum(F.col("value").cast(DEC))).alias("hour_sum"),
    )
    spans = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "user_id",
        F.explode_outer(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            "h",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("hour_sum", ignorenulls=True).over(w).alias("filled_sum"),
        )
        .orderBy("user_id", "h")
    )


# Ordered funnel: how many users progressed signup -> view -> click ->
# purchase, where each stage must happen strictly AFTER the user's
# earliest qualifying event of the previous stage. Each stage is a
# groupBy(user_id) min + an equi-join on user_id against a strictly
# shrinking user set — at scale every stage join keys on user_id and the
# later stages are broadcast-able once the funnel narrows.
_FUNNEL_ORACLE = """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
       WHERE event_type = 'view' AND ts > t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
       WHERE event_type = 'click' AND ts > t2 GROUP BY e.user_id),
s4 AS (SELECT e.user_id, min(ts) AS t4 FROM events e JOIN s3 USING (user_id)
       WHERE event_type = 'purchase' AND ts > t3 GROUP BY e.user_id)
SELECT (SELECT count(*) FROM s1) AS n_signup,
       (SELECT count(*) FROM s2) AS n_view,
       (SELECT count(*) FROM s3) AS n_click,
       (SELECT count(*) FROM s4) AS n_purchase
"""


@query("q_events_funnel", oracle=_FUNNEL_ORACLE)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")

    def stage(prev: DataFrame, prev_t: str, etype: str, out_t: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_t))
        )

    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = stage(s1, "t1", "view", "t2")
    s3 = stage(s2, "t2", "click", "t3")
    s4 = stage(s3, "t3", "purchase", "t4")
    counts = [
        df.groupBy().agg(F.count("*").alias(name))
        for df, name in ((s1, "n_signup"), (s2, "n_view"), (s3, "n_click"), (s4, "n_purchase"))
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out


# Cohort retention: bucket users by the calendar day of their first
# event, then count distinct users active at each day offset. Two
# aggregations on user_id + one equi-join — the first-touch table is a
# fraction of the event volume, so at scale it broadcasts or
# hash-co-locates with the big side on user_id.
_COHORT_ORACLE = """
WITH first_touch AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day FROM events GROUP BY user_id
)
SELECT cohort_day,
       date_diff('day', cohort_day, date_trunc('day', ts)) AS day_offset,
       count(DISTINCT e.user_id) AS n_users
FROM events e JOIN first_touch USING (user_id)
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
"""


@query("q_events_cohort_retention", oracle=_COHORT_ORACLE)
def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    first_touch = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    return (
        e.join(first_touch, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).alias(
                "day_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


# Z-score outliers: per-type mean/std from EXACT decimal moments (value
# carries <= 2 decimals, so DECIMAL(18,4) sums of value and value^2 are
# exact and order-independent), then one broadcast join back and two IEEE
# ops per row for the score. The stats side is 5 rows — a broadcast —
# so the big side never shuffles at all.
_ZSCORE_ORACLE = f"""
WITH stats AS (
  SELECT event_type,
         count(*) AS n,
         {sql_dsum('value')} / count(*) AS mean_v,
         sqrt({sql_dsum('value * value')} / count(*)
              - ({sql_dsum('value')} / count(*)) * ({sql_dsum('value')} / count(*))) AS std_v
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       (value - mean_v) / std_v AS zscore
FROM events e JOIN stats USING (event_type)
WHERE std_v > 0 AND abs((value - mean_v) / std_v) > 2.5
ORDER BY event_id
"""


@query("q_events_zscore_outliers", oracle=_ZSCORE_ORACLE)
def q_events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    n = F.count("*")
    mean_v = dsum("value") / n
    std_v = F.sqrt(
        to_dbl(F.sum((F.col("value") * F.col("value")).cast(DEC))) / n
        - mean_v * mean_v
    )
    stats = e.groupBy("event_type").agg(
        n.alias("n"), mean_v.alias("mean_v"), std_v.alias("std_v")
    )
    z = (F.col("value") - F.col("mean_v")) / F.col("std_v")
    # std_v > 0 first: a constant-valued type has no definable outlier,
    # and ANSI-mode division by a 0.0 std would be a hard error
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter((F.col("std_v") > 0) & (F.abs(z) > 2.5))
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .orderBy("event_id")
    )


# Single-pass funnel: same semantics as q_events_funnel (each stage
# strictly after the user's previous-stage timestamp), but ONE shuffle —
# events collect per user, sort once, and a sequential fold walks the
# timeline carrying (t1..t4) stage timestamps as a struct accumulator.
# The staged variant scans events 4x and shuffles per stage; this shape
# scans once and shuffles once, at the cost of a per-user event list
# (bounded by per-user activity — cap or fall back to the staged form
# for pathological power users). The oracle is the SAME staged SQL:
# different plan, provably identical answer.
_STAGES = ("signup", "view", "click", "purchase")


@query("q_events_funnel_single_pass", oracle=_FUNNEL_ORACLE)
def q_events_funnel_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("event_type").isin(*_STAGES))
    per_user = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("seq")
    )
    acc0 = F.struct(
        *[F.lit(None).cast("timestamp").alias(f"t{i}") for i in range(1, 5)]
    )

    def step(acc, ev):
        def advance(prev_t, own_t, etype):
            cond = (
                own_t.isNull()
                & (ev["event_type"] == etype)
                & (prev_t.isNotNull() if etype != "signup" else F.lit(True))
            )
            if etype != "signup":
                cond = cond & (ev["ts"] > prev_t)
            return F.when(cond, ev["ts"]).otherwise(own_t)

        return F.struct(
            advance(F.lit(None), acc["t1"], "signup").alias("t1"),
            advance(acc["t1"], acc["t2"], "view").alias("t2"),
            advance(acc["t2"], acc["t3"], "click").alias("t3"),
            advance(acc["t3"], acc["t4"], "purchase").alias("t4"),
        )

    folded = per_user.select(F.aggregate("seq", acc0, step).alias("f"))
    return folded.agg(
        F.count("f.t1").alias("n_signup"),
        F.count("f.t2").alias("n_view"),
        F.count("f.t3").alias("n_click"),
        F.count("f.t4").alias("n_purchase"),
    )


# Session stats: gap-sessionization with duration and single-event
# (bounce) flag per session — the engagement metrics layer over the
# session_window operator. Duration is an exact integer microsecond
# difference; the oracle rebuilds identical sessions with the classic
# lag/cumsum island technique.
_SESSION_STATS_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       count(*) AS n_events,
       CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS duration_us,
       CASE WHEN count(*) = 1 THEN 1 ELSE 0 END AS bounce
FROM numbered
GROUP BY user_id, session_no
ORDER BY user_id, session_start
"""


@query("q_time_session_stats", oracle=_SESSION_STATS_ORACLE)
def q_time_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "duration_us"
            ),
        )
        .select(
            "user_id",
            "session_start",
            "n_events",
            "duration_us",
            F.when(F.col("n_events") == 1, 1).otherwise(0).alias("bounce"),
        )
        .orderBy("user_id", "session_start")
    )


# Funnel with a bounded conversion window: each stage must land strictly
# after the previous stage AND within 24h of it — the form product
# analytics actually ships ("converted within a day"). Same single-pass
# sorted-sequence fold as q_events_funnel_single_pass, one extra bound
# in the step predicate; the oracle is the staged SQL with the same
# bound per stage.
_FUNNEL_WINDOW_ORACLE = """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
       WHERE event_type = 'view' AND ts > t1 AND ts <= t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
       WHERE event_type = 'click' AND ts > t2 AND ts <= t2 + INTERVAL 24 HOUR GROUP BY e.user_id),
s4 AS (SELECT e.user_id, min(ts) AS t4 FROM events e JOIN s3 USING (user_id)
       WHERE event_type = 'purchase' AND ts > t3 AND ts <= t3 + INTERVAL 24 HOUR GROUP BY e.user_id)
SELECT (SELECT count(*) FROM s1) AS n_signup,
       (SELECT count(*) FROM s2) AS n_view,
       (SELECT count(*) FROM s3) AS n_click,
       (SELECT count(*) FROM s4) AS n_purchase
"""


@query("q_events_funnel_window", oracle=_FUNNEL_WINDOW_ORACLE)
def q_events_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("event_type").isin(*_STAGES))
    per_user = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("seq")
    )
    acc0 = F.struct(
        *[F.lit(None).cast("timestamp").alias(f"t{i}") for i in range(1, 5)]
    )
    bound = F.expr("INTERVAL 24 HOURS")

    def step(acc, ev):
        def advance(prev_t, own_t, etype):
            cond = own_t.isNull() & (ev["event_type"] == etype)
            if etype == "signup":
                return F.when(cond, ev["ts"]).otherwise(own_t)
            cond = (
                cond
                & prev_t.isNotNull()
                & (ev["ts"] > prev_t)
                & (ev["ts"] <= prev_t + bound)
            )
            return F.when(cond, ev["ts"]).otherwise(own_t)

        return F.struct(
            advance(F.lit(None), acc["t1"], "signup").alias("t1"),
            advance(acc["t1"], acc["t2"], "view").alias("t2"),
            advance(acc["t2"], acc["t3"], "click").alias("t3"),
            advance(acc["t3"], acc["t4"], "purchase").alias("t4"),
        )

    folded = per_user.select(F.aggregate("seq", acc0, step).alias("f"))
    return folded.agg(
        F.count("f.t1").alias("n_signup"),
        F.count("f.t2").alias("n_view"),
        F.count("f.t3").alias("n_click"),
        F.count("f.t4").alias("n_purchase"),
    )


# Normalized cohort retention: the day-offset activity counts as a SHARE
# of each cohort's size — the heat-map product analytics actually plots.
# Adds one broadcast-able cohort-size aggregate and one IEEE division to
# q_events_cohort_retention; day-0 share is 1.0 by construction.
_COHORT_SHARE_ORACLE = """
WITH first_touch AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day FROM events GROUP BY user_id
),
sizes AS (SELECT cohort_day, count(*) AS cohort_size FROM first_touch GROUP BY cohort_day),
activity AS (
  SELECT cohort_day,
         date_diff('day', cohort_day, date_trunc('day', ts)) AS day_offset,
         count(DISTINCT e.user_id) AS n_users
  FROM events e JOIN first_touch USING (user_id)
  GROUP BY cohort_day, day_offset
)
SELECT a.cohort_day, a.day_offset, a.n_users,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(a.n_users AS DOUBLE) / s.cohort_size AS retention
FROM activity a JOIN sizes s USING (cohort_day)
ORDER BY cohort_day, day_offset
"""


@query("q_events_cohort_share", oracle=_COHORT_SHARE_ORACLE)
def q_events_cohort_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    first_touch = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    sizes = first_touch.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_size")
    )
    activity = (
        e.join(first_touch, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).alias(
                "day_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )
    return (
        activity.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "n_users",
            "cohort_size",
            (F.col("n_users").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
        .orderBy("cohort_day", "day_offset")
    )


# DAU / WAU: daily active users plus the 7-day trailing distinct count.
# Sliding DISTINCT can't partial-aggregate directly, so the WAU side
# expands each distinct (user, day) pair into the 7 trailing report days
# it contributes to — a BOUNDED 7x blow-up of the deduplicated pair set
# (tiny next to raw events), then an ordinary count_distinct per day.
# This is the scale-correct rewrite of count(DISTINCT) OVER (RANGE 7
# DAYS), which Spark (rightly) refuses to plan.
_ACTIVE_ORACLE = """
WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
expanded AS (
  SELECT user_id, d + INTERVAL (off) DAY AS wd
  FROM ud, unnest(range(7)) AS u(off)
),
dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM ud GROUP BY d),
wau AS (SELECT wd AS d, count(DISTINCT user_id) AS wau FROM expanded GROUP BY wd)
SELECT dau.d AS day, dau.dau, wau.wau
FROM dau JOIN wau ON dau.d = wau.d
ORDER BY day
"""


@query("q_events_active_users", oracle=_ACTIVE_ORACLE)
def q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    expanded = ud.select(
        "user_id",
        F.explode_outer(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "d",
    ).select(
        "user_id", F.expr("d + make_interval(0, 0, 0, off, 0, 0, 0)").alias("wd")
    )
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    wau = expanded.groupBy(F.col("wd").alias("day")).agg(
        F.count_distinct("user_id").alias("wau")
    )
    return dau.join(wau, "day").orderBy("day")


# Session path analysis: the ordered event-type sequence of every
# gap-session, frequency-ranked — "what do users actually do in a
# visit". The path string is assembled from a SORTED collect inside the
# session aggregate (per-group state bounded by session length, same
# discipline as the C4 reassembly), counted with one partial-agg'd
# groupBy(path), and ranked via orderBy+limit (TakeOrderedAndProject).
# Ties inside a session break on (ts, event_id) so both engines emit
# the identical sequence; the oracle rebuilds the sessions with the
# lag/cumsum island technique and string_agg ORDER BY.
_TOP_PATHS_K = 20

_TOP_PATHS_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM flagged
), paths AS (
  SELECT user_id, session_no,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM numbered
  GROUP BY user_id, session_no
)
SELECT path, n_sessions
FROM (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM paths GROUP BY path)
ORDER BY n_sessions DESC, path
LIMIT {_TOP_PATHS_K}
"""


@query("q_events_top_paths", oracle=_TOP_PATHS_ORACLE)
def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    paths = (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_TOP_PATHS_K)
    )


# ---------------------------------------------------------------------------
# OHLC bars — the classic time-series downsampling: per (event_type,
# hour), open = value at the earliest event, close = at the latest,
# high/low = extremes, plus count and an exact-decimal volume sum. One
# partial-aggregable groupBy (min_by/max_by combine like min/max), so a
# 100 TB event stream rolls up in a single shuffle of width
# n_types x n_hours. Determinism: the open/close ordering key is
# (ts, event_id) encoded as a zero-padded string — DuckDB's
# arg_min/arg_max take scalar keys only, and the string encoding makes
# the composite tiebreak identical on both engines even when two
# events share a timestamp.
# ---------------------------------------------------------------------------

_OHLC_KEY_SQL = (
    "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || "
    "lpad(CAST(event_id AS VARCHAR), 12, '0')"
)

_OHLC_ORACLE = f"""
SELECT event_type,
       date_trunc('hour', ts) AS bar_hour,
       arg_min(value, {_OHLC_KEY_SQL}) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, {_OHLC_KEY_SQL}) AS close,
       count(*) AS n_events,
       {sql_dsum('value')} AS volume
FROM events
GROUP BY event_type, date_trunc('hour', ts)
ORDER BY event_type, bar_hour
"""


@query("q_time_ohlc_bars", oracle=_OHLC_ORACLE)
def q_time_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bar_hour"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("n_events"),
            dsum("value").alias("volume"),
        )
        .orderBy("event_type", "bar_hour")
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix — first-order Markov view of user
# behavior (which event follows which): lag(event_type) per user in
# (ts, event_id) order, then count each (prev -> next) edge and its
# row-conditional probability. One window pass partitioned by user_id
# (the same shuffle any per-user sequence op pays) + one partial-agg'd
# groupBy of width n_types^2; the row-share denominator is an integer
# window sum, so the probability is one exact int/int division — no
# float summation anywhere.
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
edges AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / sum(n_transitions) OVER (PARTITION BY prev_type) AS row_share
FROM edges
ORDER BY prev_type, next_type
"""


@query("q_events_markov_transitions", oracle=_MARKOV_ORACLE)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    edges = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n_transitions")
    )
    row_total = F.sum("n_transitions").over(Window.partitionBy("prev_type"))
    return edges.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (F.col("n_transitions").cast("double") / row_total).alias("row_share"),
    ).orderBy("prev_type", "next_type")


# ---------------------------------------------------------------------------
# Robust outlier detection: median / MAD (median absolute deviation)
# per event type — the robust twin of q_events_zscore_outliers, immune
# to the outliers it hunts. Values are scaled to integer cents so both
# engines' interpolated medians are exact halves in double. Two
# aggregate passes (median, then median of deviations) with the tiny
# per-type stats broadcast back — the exact shape that scales: the
# fact table is scanned twice but never re-shuffled by a wide key, and
# at 100 TB the second pass can run on the same cached scan.
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH cents AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
med AS (
  SELECT event_type, median(v) AS med_cents FROM cents GROUP BY event_type
),
dev AS (
  SELECT c.event_type, abs(c.v - m.med_cents) AS adev
  FROM cents c JOIN med m ON c.event_type = m.event_type
),
mad AS (
  SELECT event_type, median(adev) AS mad_cents FROM dev GROUP BY event_type
)
SELECT c.event_type,
       count(*) AS n,
       min(m.med_cents) AS med_cents,
       min(d.mad_cents) AS mad_cents,
       CAST(sum(CASE WHEN abs(c.v - m.med_cents) > 3 * d.mad_cents
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM cents c
JOIN med m ON c.event_type = m.event_type
JOIN mad d ON c.event_type = d.event_type
GROUP BY c.event_type
ORDER BY c.event_type
"""


@query("q_events_anomaly_mad", oracle=_MAD_ORACLE)
def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("v")
    )
    med = ev.groupBy("event_type").agg(F.median("v").alias("med_cents"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("v") - F.col("med_cents"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad_cents"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("med_cents").alias("med_cents"),
            F.min("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(
                    F.abs(F.col("v") - F.col("med_cents"))
                    > 3 * F.col("mad_cents"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# Linear-interpolation resample: the other half of the TimescaleDB-style
# gap-fill kit (q_time_gap_fill carries the LAST observation forward;
# `interpolate()` draws the line between the bracketing observations).
# Same dense-grid construction (sequence per user span — rows bounded by
# span hours, no cross join), then BOTH bracketing neighbors come from
# two frame-bounded window passes over the same user_id partitioning:
# last(ignorenulls) looking back, first(ignorenulls) looking forward —
# Spark evaluates both in ONE physical Window exchange because the
# partition key is shared. The interpolation arithmetic is a single
# fixed-shape IEEE expression (pv + (nv - pv) * frac) over
# decimal-derived endpoints and an integer hour fraction, so both
# engines produce bit-identical doubles with no rounding tolerance.
_INTERP_ORACLE = f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         count(*) AS n_events,
         {sql_davg('value')} AS hour_avg
  FROM events WHERE user_id < 8
  GROUP BY user_id, date_trunc('hour', ts)
),
spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM spans
),
j AS (
  SELECT g.user_id, g.h, hour_avg,
         CAST(epoch(g.h) AS BIGINT) AS eh,
         coalesce(n_events, 0) AS n_events
  FROM grid g LEFT JOIN hourly USING (user_id, h)
),
f AS (
  SELECT user_id, h, n_events, hour_avg, eh,
         last_value(hour_avg IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN hour_avg IS NOT NULL THEN eh END IGNORE NULLS)
           OVER wb AS ph,
         first_value(hour_avg IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN hour_avg IS NOT NULL THEN eh END IGNORE NULLS)
           OVER wf AS nh
  FROM j
  WINDOW wb AS (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, h, n_events,
       CASE WHEN hour_avg IS NOT NULL THEN 'observed'
            ELSE 'interpolated' END AS status,
       CASE WHEN hour_avg IS NOT NULL THEN hour_avg
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            ELSE pv + (nv - pv) * (CAST(eh - ph AS DOUBLE) / (nh - ph))
       END AS interp_value
FROM f
ORDER BY user_id, h
"""


@query("q_time_interpolate_linear", oracle=_INTERP_ORACLE)
def q_time_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count("*").alias("n_events"),
        davg("value").alias("hour_avg"),
    )
    spans = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "user_id",
        F.explode_outer(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    j = (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            "h",
            "hour_avg",
            F.unix_timestamp("h").alias("eh"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_eh = F.when(F.col("hour_avg").isNotNull(), F.col("eh"))
    f = j.select(
        "user_id",
        "h",
        "n_events",
        "hour_avg",
        "eh",
        F.last("hour_avg", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_eh, ignorenulls=True).over(wb).alias("ph"),
        F.first("hour_avg", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_eh, ignorenulls=True).over(wf).alias("nh"),
    )
    frac = (F.col("eh") - F.col("ph")).cast("double") / (
        F.col("nh") - F.col("ph")
    )
    interp = (
        F.when(F.col("hour_avg").isNotNull(), F.col("hour_avg"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return f.select(
        "user_id",
        "h",
        "n_events",
        F.when(F.col("hour_avg").isNotNull(), "observed")
        .otherwise("interpolated")
        .alias("status"),
        interp.alias("interp_value"),
    ).orderBy("user_id", "h")


# Exponential smoothing (zero-seeded EWMA level) per user: the online
# metric-smoothing op (Hyndman & Athanasopoulos, "Forecasting:
# Principles and Practice", simple exponential smoothing) that a
# monitoring/forecasting surface keeps per key. level_n = a*x_n +
# (1-a)*level_{n-1}, level_0 = 0 — zero seeding makes the recurrence a
# pure fold, and both engines run the SAME sequential IEEE op sequence
# (F.aggregate over a position-sorted collect <-> list_reduce over
# list(... ORDER BY ...)), so the 6-dp round only swallows cross-libm
# noise, not reordering. One groupBy(user_id) with a sorted collect:
# state per task is bounded by the user's event count (same discipline
# as the unigram-LM scorer); no window, no second shuffle.
_EWMA_ALPHA = 0.3

_EWMA_ORACLE = f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(value ORDER BY ts, event_id)),
             (acc, x) -> {_EWMA_ALPHA} * x + {1 - _EWMA_ALPHA} * acc), 6)
         AS ewma_level
FROM events
WHERE ts IS NOT NULL AND event_id IS NOT NULL AND value IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


@query("q_time_ewma_level", oracle=_EWMA_ORACLE)
def q_time_ewma_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rows missing ts, event_id, or value are EXCLUDED from the fold on
    # both engines: a sequential recurrence needs a TOTAL order (NULL ts
    # has no position; NULL event_id leaves ties order-ambiguous —
    # Spark's array_sort and DuckDB's ORDER BY also disagree on NULL
    # placement) and a NULL value would NaN-poison the level.
    e = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("value").isNotNull()
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda x: x.value,
    )
    return (
        e.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.aggregate(
                    ordered,
                    F.lit(0.0),
                    lambda acc, x: F.lit(_EWMA_ALPHA) * x
                    + F.lit(1 - _EWMA_ALPHA) * acc,
                ),
                6,
            ).alias("ewma_level"),
        )
        .orderBy("user_id")
    )


# RFM segmentation: the classic customer-analytics operator (recency /
# frequency / monetary quintiles). Stage 1 collapses events to ONE row
# per user (partial-agg'd groupBy — the 100 TB pass); stage 2 assigns
# each user its EXACT ntile(5) score per dimension WITHOUT a global row
# window (round-10 re-shape: the previous three unpartitioned ntile
# windows were three global sorts on one task each at scale). The
# distributed exact-rank machinery lives in _exact_ntile below. "Now"
# is the corpus max timestamp (broadcast scalar), so the query is
# deterministic. All columns are integer/decimal-exact; ntile ties
# break on user_id on both engines.
_RFM_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         max(ts) AS last_ts,
         count(*) AS frequency,
         {sql_dsum('value')} AS monetary
  FROM events GROUP BY user_id
),
now_ts AS (SELECT max(ts) AS now FROM events),
base AS (
  SELECT user_id,
         datediff('day', last_ts, (SELECT now FROM now_ts)) AS recency_days,
         frequency, monetary
  FROM per_user
),
scored AS (
  SELECT user_id, recency_days, CAST(frequency AS BIGINT) AS frequency, monetary,
         ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
         ntile(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
         ntile(5) OVER (ORDER BY monetary ASC, user_id) AS m_score
  FROM base
)
SELECT user_id, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM scored
ORDER BY user_id
"""


# common exact carrier for the melted rank values: recency (int),
# frequency (bigint), and monetary (decimal(28,4)) all embed losslessly
# and order-preservingly
_NTILE_DEC = "decimal(38,6)"


def _exact_ntile_multi(
    base: DataFrame,
    dims: list[tuple[str, object]],
    k: int = 5,
    n_buckets: int = 256,
) -> DataFrame:
    """(user_id, <alias>...) with the EXACT ntile(k) ORDER BY (v,
    user_id) score per dimension, computed without any unpartitioned
    row window — and with ALL dimensions fused into ONE melted pass
    (the three-branch form cost ~6 shuffles per dimension in fixed
    stage overhead; this is 3 total).

    Decomposition (the range-bucketed exact rank):
    1. melt: explode each user row into (dim, v) rows — map-side only.
    2. ~n_buckets approximate quantile boundaries per dim from ONE
       grouped aggregate (bounded driver collect of <= dims x
       n_buckets doubles, same class as the SRP anchors at
       llm/dedup.py). Boundary error NEVER affects the result —
       buckets only partition the work; any value-range bucketing that
       respects the v order yields the same exact ranks.
    3. bucket = #boundaries <= v (O(n_buckets) vectorized per row,
       CASE-dispatched per dim, lazy so each row pays one dim's scan;
       monotone in v even across the decimal->double cast since equal
       values share a bucket and the cast is order-preserving).
    4. row_number within each (dim, bucket) ordered by (v, user_id) —
       windows partitioned ~evenly by the quantile boundaries.
    5. global rank = bucket offset (prefix sum over the <= dims x
       (n_buckets+2) counts table, broadcast back) + local row number.
    6. ntile from rank and the per-dim total n: the first n%k tiles
       hold floor(n/k)+1 rows, the rest floor(n/k) (standard SQL
       ntile; the greatest() guard keeps the unused branch ANSI-safe
       when n < k).
    7. regroup by user_id — one shuffle pivots the per-dim tiles back
       to one row per user.

    NULL v sorts LAST (explicit n_buckets+1 bucket), matching DuckDB's
    default NULLS LAST; the fixture has no NULL per-user aggregates,
    so this also matches the pre-round-10 implementation's green
    history."""
    structs = [
        F.struct(F.lit(a).alias("dim"), v.cast(_NTILE_DEC).alias("v"))
        for a, v in dims
    ]
    melted = base.select(
        "user_id", F.explode(F.array(*structs)).alias("x")
    ).select(
        "user_id",
        F.col("x.dim").alias("dim"),
        F.col("x.v").alias("v"),
        F.col("x.v").cast("double").alias("vd"),
    )
    from ..operators.bucketing import boundary_bucket

    qs = [i / n_buckets for i in range(1, n_buckets)]
    brows = melted.groupBy("dim").agg(
        F.percentile_approx("vd", qs, 10000).alias("b")
    ).collect()
    bounds = {r["dim"]: sorted(set(r["b"] or [])) for r in brows}

    # NULLS LAST: DuckDB's ntile default, see operators/bucketing.py
    bkt = None
    for a, _ in dims:
        expr = boundary_bucket(F.col("vd"), bounds.get(a, []))
        bkt = (
            expr
            if bkt is None
            else F.when(F.col("dim") == a, expr).otherwise(bkt)
        )
    bucketed = melted.withColumn("bkt", bkt)
    wl = Window.partitionBy("dim", "bkt").orderBy("v", "user_id")
    local = bucketed.select(
        "user_id", "dim", "bkt", F.row_number().over(wl).alias("rn")
    )
    # max(rn) within a (dim, bucket) IS its row count (row_number is
    # dense 1..c), and consuming the window column keeps Catalyst from
    # pruning the window and rescanning the melted frame
    counts = local.groupBy("dim", "bkt").agg(
        F.max("rn").cast("bigint").alias("c")
    )
    wo = (
        Window.partitionBy("dim")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "dim",
        "bkt",
        F.coalesce(F.sum("c").over(wo), F.lit(0)).alias("off"),
    )
    n_dim = counts.groupBy("dim").agg(F.sum("c").alias("n"))
    ranked = (
        local.join(F.broadcast(offsets), ["dim", "bkt"])
        .join(F.broadcast(n_dim), "dim")
        .select("user_id", "dim", (F.col("off") + F.col("rn")).alias("rnk"), "n")
    )
    q = F.floor(F.col("n") / k)
    r = F.col("n") % k
    cut = r * (q + 1)
    rnk = F.col("rnk")
    tile = F.when(rnk <= cut, F.floor((rnk - 1) / (q + 1)) + 1).otherwise(
        r + F.floor((rnk - cut - 1) / F.greatest(q, F.lit(1))) + 1
    )
    tiled = ranked.select("user_id", "dim", tile.cast("int").alias("tile"))
    # expose the key under a distinct name so callers can join back
    # NULL-SAFELY: a NULL user_id is a group both here (groupBy keeps
    # the NULL group) and in the oracle's ntile output, and a plain
    # inner equi-join would silently drop it
    return tiled.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("dim") == a, F.col("tile"))).alias(a)
            for a, _ in dims
        ]
    ).withColumnRenamed("user_id", "ntile_user_id")


def _exact_ntile(base: DataFrame, v, alias: str, k: int = 5, n_buckets: int = 256) -> DataFrame:
    """Single-dimension form of _exact_ntile_multi (see there)."""
    return _exact_ntile_multi(base, [(alias, v)], k, n_buckets).withColumnRenamed(
        "ntile_user_id", "user_id"
    )


@query("q_events_rfm", oracle=_RFM_ORACLE)
def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").cast("long").alias("frequency"),
        dsum("value").alias("monetary"),
    )
    now_ts = e.agg(F.max("ts").alias("now"))
    base = per_user.crossJoin(F.broadcast(now_ts)).select(
        "user_id",
        F.datediff(F.to_date("now"), F.to_date("last_ts")).alias("recency_days"),
        "frequency",
        "monetary",
    )
    # ORDER BY recency DESC == ORDER BY -recency ASC (ties on user_id
    # either way); frequency/monetary rank ascending. One fused melted
    # pass ranks all three dimensions (see _exact_ntile_multi).
    scores = _exact_ntile_multi(
        base,
        [
            ("r_score", -F.col("recency_days")),
            ("f_score", F.col("frequency")),
            ("m_score", F.col("monetary")),
        ],
    )
    # null-safe: the oracle's ntile windows score a NULL-user group
    # too; a plain equi-join would drop it (round-10 review finding)
    scored = base.join(
        scores, base["user_id"].eqNullSafe(scores["ntile_user_id"])
    ).drop("ntile_user_id")
    return scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws(
            "",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    ).orderBy("user_id")


# A/B experiment analysis: Welch's two-sample t-test per event type,
# arms assigned by the deterministic user_id parity (stand-in for the
# experiment's assignment column). Everything reduces to six exact
# decimal moments per (type, arm) — n, Σx, Σx² — in ONE partial-agg'd
# groupBy over the event scan; the t statistic and Welch–Satterthwaite
# df are then a fixed-shape IEEE expression over those bit-identical
# moments, rounded to 6 dp. The |t| > 1.96 flag is the ~95% two-sided
# gate. At 100 TB this is the nightly experiment readout: moment
# aggregation is embarrassingly map-side, and the per-type final math
# is n_types rows of scalar arithmetic.
_AB_ORACLE = f"""
WITH arms AS (
  SELECT event_type, user_id % 2 AS arm,
         count(*) AS n,
         {sql_dsum('value')} AS s1,
         {sql_to_dbl("sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))")} AS s2
  FROM events GROUP BY event_type, user_id % 2
),
wide AS (
  SELECT a.event_type,
         a.n AS n_a, a.s1 AS s1_a, a.s2 AS s2_a,
         b.n AS n_b, b.s1 AS s1_b, b.s2 AS s2_b
  FROM arms a JOIN arms b USING (event_type)
  WHERE a.arm = 0 AND b.arm = 1 AND a.n > 1 AND b.n > 1
),
stats AS (
  SELECT event_type,
         CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         s1_a / n_a AS mean_a, s1_b / n_b AS mean_b,
         greatest((s2_a - s1_a * s1_a / n_a) / (n_a - 1), 0.0) AS var_a,
         greatest((s2_b - s1_b * s1_b / n_b) / (n_b - 1), 0.0) AS var_b
  FROM wide
)
SELECT event_type, n_a, n_b,
       round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
       round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 6) AS t_stat,
       round((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
             / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 2) AS welch_df,
       CASE WHEN abs((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)) > 1.96
            THEN 1 ELSE 0 END AS significant
FROM stats
WHERE var_a / n_a + var_b / n_b > 0
ORDER BY event_type
"""


@query("q_events_ab_welch", oracle=_AB_ORACLE)
def q_events_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    v = F.col("value").cast(DEC)
    arms = e.groupBy("event_type", (F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n"),
        dsum("value").alias("s1"),
        to_dbl(F.sum(v * v)).alias("s2"),
    )
    a = arms.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n_a"), F.col("s1").alias("s1_a"), F.col("s2").alias("s2_a"),
    )
    b = arms.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n_b"), F.col("s1").alias("s1_b"), F.col("s2").alias("s2_b"),
    )
    wide = a.join(b, "event_type").filter(
        (F.col("n_a") > 1) & (F.col("n_b") > 1)
    )
    mean_a = F.col("s1_a") / F.col("n_a")
    mean_b = F.col("s1_b") / F.col("n_b")
    # greatest(-, 0): the moment formula cancels catastrophically on a
    # near-constant arm and can produce a tiny NEGATIVE variance in
    # doubles; unclamped, sqrt(se2) is a hard error in the oracle and
    # NaN here. Clamped identically on both engines.
    var_a = F.greatest(
        (F.col("s2_a") - F.col("s1_a") * F.col("s1_a") / F.col("n_a"))
        / (F.col("n_a") - 1),
        F.lit(0.0),
    )
    var_b = F.greatest(
        (F.col("s2_b") - F.col("s1_b") * F.col("s1_b") / F.col("n_b"))
        / (F.col("n_b") - 1),
        F.lit(0.0),
    )
    se2 = var_a / F.col("n_a") + var_b / F.col("n_b")
    # se2 == 0 (both arms constant) has no defined t/df — excluded on
    # both engines rather than ANSI-erroring on the 0/0
    t = (mean_a - mean_b) / F.sqrt(se2)
    df_w = (se2 * se2) / (
        (var_a / F.col("n_a")) * (var_a / F.col("n_a")) / (F.col("n_a") - 1)
        + (var_b / F.col("n_b")) * (var_b / F.col("n_b")) / (F.col("n_b") - 1)
    )
    return wide.filter(se2 > 0).select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df_w, 2).alias("welch_df"),
        F.when(F.abs(t) > 1.96, 1).otherwise(0).alias("significant"),
    ).orderBy("event_type")


# Incremental rollup maintenance: the lakehouse pattern where a nightly
# job merges the NEW partition's partial aggregates into the standing
# rollup instead of rescanning history. The Spark side deliberately
# computes the hourly (type, hour) rollup as two DISJOINT slices (a
# historical half and a "late-arriving" half split at the corpus
# median-ish cutoff), aggregates each independently, and MERGES the
# partials — counts add, exact-decimal sums add, min/max fold — while
# the oracle computes the same rollup from scratch over all events. A
# green hash row is the algebraic proof the merge is lossless, i.e.
# every aggregate here is a commutative monoid the engine can maintain
# incrementally at 100 TB (the same property that makes them
# partial-aggregable map-side). avg is NOT merged directly — it is
# derived sum/count at read time, the only safe way.
_MERGE_CUTOFF = "1995-06-01"

_ROLLUP_MERGE_ORACLE = f"""
SELECT event_type, date_trunc('hour', ts) AS h,
       CAST(count(*) AS BIGINT) AS n,
       {sql_dsum('value')} AS total_value,
       min(value) AS min_value,
       max(value) AS max_value,
       {sql_dsum('value')} / count(*) AS avg_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
ORDER BY event_type, h
"""


@query("q_time_rollup_merge", oracle=_ROLLUP_MERGE_ORACLE)
def q_time_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    cutoff = F.lit(_MERGE_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC)).alias("dec_sum"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    old_half = partial(e.filter(F.col("ts") < cutoff))
    # NULL ts satisfies neither predicate — route those rows into the
    # new half explicitly so the merge stays lossless (the oracle keeps
    # them as an h=NULL group)
    new_half = partial(
        e.filter((F.col("ts") >= cutoff) | F.col("ts").isNull())
    )
    merged = (
        old_half.unionByName(new_half)
        .groupBy("event_type", "h")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("dec_sum").alias("dec_sum"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )
    return merged.select(
        "event_type",
        "h",
        "n",
        to_dbl(F.col("dec_sum")).alias("total_value"),
        "min_value",
        "max_value",
        (to_dbl(F.col("dec_sum")) / F.col("n")).alias("avg_value"),
    ).orderBy("event_type", "h")


# Time-to-convert distribution: the funnel's companion metric — how
# long from a user's FIRST signup to their FIRST subsequent purchase.
# ONE events scan: first-signup comes from a user-partitioned window
# and the first-subsequent-purchase groupBy reuses that partitioning
# (no equi-join, no re-derived lineage — the q_events_kaplan_meier
# plan shape); integer epoch deltas, then exact interpolated quantiles
# over those integers (quantile_cont <-> percentile agree bitwise on
# integer inputs — same contract as q_agg_percentile).
_T2C_ORACLE = """
WITH s AS (
  SELECT user_id, min(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id, min(ts) AS purchase_ts
  FROM events e JOIN s USING (user_id)
  WHERE event_type = 'purchase' AND ts > signup_ts
  GROUP BY e.user_id
),
d AS (
  -- floor each epoch BEFORE subtracting: ts carries microseconds, and
  -- Spark's unix_timestamp floors per-timestamp; subtracting the
  -- fractional epochs first would truncate differently
  SELECT CAST(floor(epoch(purchase_ts)) AS BIGINT)
         - CAST(floor(epoch(signup_ts)) AS BIGINT) AS delta_s
  FROM p JOIN s USING (user_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       min(delta_s) AS min_s,
       quantile_cont(delta_s, 0.5) AS median_s,
       quantile_cont(delta_s, 0.9) AS p90_s,
       max(delta_s) AS max_s
FROM d
"""


@query("q_events_time_to_convert", oracle=_T2C_ORACLE)
def q_events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    e2 = e.select(
        "user_id",
        "ts",
        "event_type",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
        .over(wu)
        .alias("signup_ts"),
    ).filter(
        (F.col("event_type") == "purchase")
        & (F.col("ts") > F.col("signup_ts"))
    )
    d = (
        e2.groupBy("user_id", "signup_ts")
        .agg(F.min("ts").alias("purchase_ts"))
        .select(
            (
                F.unix_timestamp("purchase_ts")
                - F.unix_timestamp("signup_ts")
            ).alias("delta_s")
        )
    )
    return d.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.min("delta_s").alias("min_s"),
        F.expr("percentile(delta_s, 0.5)").alias("median_s"),
        F.expr("percentile(delta_s, 0.9)").alias("p90_s"),
        F.max("delta_s").alias("max_s"),
    )


# Holt linear-trend smoothing (double exponential smoothing; Hyndman &
# Athanasopoulos ch. 8.2) per user — the next step up from
# q_time_ewma_level when the per-key metric drifts: level AND trend
# fold together, forecast_next = level + trend is the one-step-ahead
# prediction a monitoring surface alerts on. Zero-seeded like the EWMA
# so the recurrence is a pure fold; NULL-ts events are excluded (no
# position in the time order — same contract as q_time_ewma_level).
# Same scale shape as the EWMA: ONE groupBy(user_id) with a
# position-sorted collect, per-task state bounded by the user's event
# count, no window. Both engines run the IDENTICAL sequential IEEE op
# sequence — Spark folds a struct(level, trend) accumulator with
# F.aggregate, the oracle replays the same recurrence with a recursive
# CTE (the q_pack_greedy replay pattern; DuckDB's list_reduce cannot
# carry a 2-field accumulator) — so the 6-dp round only swallows
# cross-libm noise, never reordering.
_HW_ALPHA, _HW_BETA = 0.3, 0.1

_HOLT_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
  WHERE ts IS NOT NULL AND event_id IS NOT NULL
    AND value IS NOT NULL
),
fold AS (
  SELECT user_id, 0 AS rn, CAST(0 AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
  FROM (SELECT DISTINCT user_id FROM ev)
  UNION ALL
  SELECT e.user_id, e.rn,
         {_HW_ALPHA} * e.value + {1 - _HW_ALPHA} * (f.l + f.b),
         {_HW_BETA} * (({_HW_ALPHA} * e.value
                        + {1 - _HW_ALPHA} * (f.l + f.b)) - f.l)
           + {1 - _HW_BETA} * f.b
  FROM fold f JOIN ev e ON e.user_id = f.user_id AND e.rn = f.rn + 1
),
last AS (SELECT user_id AS lu, max(rn) AS mx FROM fold GROUP BY user_id)
SELECT f.user_id, CAST(f.rn AS BIGINT) AS n_events,
       round(f.l, 6) AS level, round(f.b, 6) AS trend,
       round(f.l + f.b, 6) AS forecast_next
FROM fold f JOIN last ON last.lu = f.user_id AND f.rn = last.mx
ORDER BY user_id
"""


@query("q_time_holt_trend", oracle=_HOLT_ORACLE)
def q_time_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same fold-totality rule as q_time_ewma_level
    e = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("value").isNotNull()
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda x: x.value,
    )
    a, b = F.lit(_HW_ALPHA), F.lit(_HW_BETA)
    one_a, one_b = F.lit(1 - _HW_ALPHA), F.lit(1 - _HW_BETA)

    def step(acc, x):
        new_l = a * x + one_a * (acc.l + acc.b)
        return F.struct(
            new_l.alias("l"),
            ((b * (new_l - acc.l)) + one_b * acc.b).alias("b"),
        )

    folded = F.aggregate(
        ordered,
        F.struct(F.lit(0.0).alias("l"), F.lit(0.0).alias("b")),
        step,
    )
    return (
        e.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            folded.alias("hw"),
        )
        .select(
            "user_id",
            "n_events",
            F.round(F.col("hw.l"), 6).alias("level"),
            F.round(F.col("hw.b"), 6).alias("trend"),
            F.round(F.col("hw.l") + F.col("hw.b"), 6).alias("forecast_next"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Marketing-style touch attribution. For every user who converts
# (first 'purchase', instant pinned by the (ts, event_id) total order),
# credit the FIRST and LAST non-purchase touch that strictly precedes
# the conversion, then count credits per event_type. NULL-ts events
# carry no time order and are excluded identically on both engines
# (the pinned NULL policy of this module — see q_time_rollup_merge).
# Scale shape: one shuffle on user_id computes the conversion instant
# and both touches in a single Window exchange (three frames, shared
# partitioning); the final credit counts aggregate a one-row-per-user
# frame. No self-joins, no row multiplication.
# ---------------------------------------------------------------------------

_ATTR_ORACLE = """
WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL),
conv AS (
  SELECT user_id, min(ROW(ts, event_id)) AS c
  FROM ev WHERE event_type = 'purchase' GROUP BY user_id
),
pre AS (
  SELECT e.user_id, e.event_type, e.ts, e.event_id
  FROM ev e JOIN conv ON e.user_id = conv.user_id
  WHERE e.event_type <> 'purchase' AND ROW(e.ts, e.event_id) < conv.c
),
ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rf,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rl
  FROM pre
),
touches AS (
  SELECT user_id,
         max(CASE WHEN rf = 1 THEN event_type END) AS first_touch,
         max(CASE WHEN rl = 1 THEN event_type END) AS last_touch
  FROM ranked GROUP BY user_id
),
credit AS (
  SELECT first_touch AS event_type, count(*) AS first_touch_users,
         CAST(0 AS BIGINT) AS last_touch_users
  FROM touches GROUP BY first_touch
  UNION ALL
  SELECT last_touch, CAST(0 AS BIGINT), count(*)
  FROM touches GROUP BY last_touch
)
SELECT event_type,
       CAST(sum(first_touch_users) AS BIGINT) AS first_touch_users,
       CAST(sum(last_touch_users) AS BIGINT) AS last_touch_users
FROM credit GROUP BY event_type
ORDER BY event_type
"""


@query("q_events_attribution", oracle=_ATTR_ORACLE)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch conversion attribution per event type."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    key = F.struct(F.col("ts"), F.col("event_id"))
    w = Window.partitionBy("user_id")
    marked = ev.select(
        "user_id",
        "event_type",
        key.alias("k"),
        F.min(F.when(F.col("event_type") == "purchase", key)).over(w).alias("c"),
    )
    pre = marked.filter(
        F.col("c").isNotNull()
        & (F.col("event_type") != "purchase")
        & (F.col("k") < F.col("c"))
    )
    wu = Window.partitionBy("user_id")
    ranked = pre.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(wu.orderBy(F.col("k.ts"), F.col("k.event_id")))
        .alias("rf"),
        F.row_number()
        .over(wu.orderBy(F.col("k.ts").desc(), F.col("k.event_id").desc()))
        .alias("rl"),
    )
    touches = ranked.groupBy("user_id").agg(
        F.max(F.when(F.col("rf") == 1, F.col("event_type"))).alias(
            "first_touch"
        ),
        F.max(F.when(F.col("rl") == 1, F.col("event_type"))).alias(
            "last_touch"
        ),
    )
    zero = F.lit(0).cast("bigint")
    credit = touches.groupBy(F.col("first_touch").alias("event_type")).agg(
        F.count("*").alias("first_touch_users"),
        zero.alias("last_touch_users"),
    ).unionAll(
        touches.groupBy(F.col("last_touch").alias("event_type")).agg(
            zero.alias("first_touch_users"),
            F.count("*").alias("last_touch_users"),
        )
    )
    return (
        credit.groupBy("event_type")
        .agg(
            F.sum("first_touch_users").cast("bigint").alias("first_touch_users"),
            F.sum("last_touch_users").cast("bigint").alias("last_touch_users"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint scan. Per event_type: bucket value into hourly
# exact-cent sums, take the cumulative deviation from the type's overall
# mean (the classic CUSUM statistic), and report the hour where |CUSUM|
# peaks — the most likely level-shift point. Every input to the double
# arithmetic is an exact integer (cents, counts), the running sum folds
# in pinned (hour) order on both engines, and the peak is picked by an
# explicit (|cusum| DESC, hour ASC) total order. NULL ts / NULL value
# rows carry no bucket or magnitude and are excluded identically.
# Scale shape: one shuffle to hourly grain (cardinality = types x
# hours, bounded), then a window over that grain — the raw-event pass
# is a single map+partial-agg scan.
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         count(*) AS n,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
tot AS (
  SELECT event_type, h, n, cents,
         CAST(sum(cents) OVER w AS DOUBLE)
           / CAST(sum(n) OVER w AS DOUBLE) AS mean_cents,
         CAST(sum(n) OVER w AS BIGINT) AS total_n
  FROM hourly
  WINDOW w AS (PARTITION BY event_type)
),
cusum AS (
  SELECT event_type, h, total_n,
         sum(CAST(cents AS DOUBLE) - n * mean_cents)
           OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM tot
),
peak AS (
  SELECT event_type, h, total_n, c,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(c) DESC, h) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_hours
  FROM cusum
)
SELECT event_type, n_hours, total_n,
       h AS changepoint_hour,
       round(c / 100, 6) AS peak_cusum_dollars
FROM peak WHERE rn = 1
ORDER BY event_type
"""


@query("q_time_cusum_changepoint", oracle=_CUSUM_ORACLE)
def q_time_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour where each event type's cumulative deviation from its mean
    value peaks — a CUSUM level-shift detector over hourly grain."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    )
    wt = Window.partitionBy("event_type")
    tot = hourly.select(
        "event_type",
        "h",
        "n",
        "cents",
        (
            F.sum("cents").over(wt).cast("double")
            / F.sum("n").over(wt).cast("double")
        ).alias("mean_cents"),
        F.sum("n").over(wt).cast("bigint").alias("total_n"),
    )
    wo = wt.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    cusum = tot.select(
        "event_type",
        "h",
        "total_n",
        F.sum(
            F.col("cents").cast("double") - F.col("n") * F.col("mean_cents")
        )
        .over(wo)
        .alias("c"),
    )
    peak = cusum.select(
        "event_type",
        "h",
        "total_n",
        "c",
        F.row_number()
        .over(wt.orderBy(F.abs(F.col("c")).desc(), F.col("h")))
        .alias("rn"),
        F.count("*").over(wt).cast("bigint").alias("n_hours"),
    )
    return (
        peak.filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_hours",
            "total_n",
            F.col("h").alias("changepoint_hour"),
            F.round(F.col("c") / 100, 6).alias("peak_cusum_dollars"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest. Per event type over hourly grain:
# score the 24h-seasonal-naive forecast (value 24 HOURS earlier, not 24
# rows — gaps make positional lag silently wrong, so both references
# come from equi-joins on the shifted hour key) against the plain naive
# (previous hour). Errors are exact integer cents; MAE and the skill
# ratio are single fixed-shape double expressions. The forecasting
# counterpart of the EWMA/Holt smoothers: this is the query that says
# whether their seasonal term would even pay for itself. Scale: raw
# events collapse to (type, hour) in one partial-agg'd shuffle; the
# three-way self-join runs on that bounded hourly frame, co-located on
# the (type) key. Types with zero naive error yield NULL skill (guard,
# both engines).
# ---------------------------------------------------------------------------

_SNAIVE_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
j AS (
  SELECT c.event_type, c.h, c.cents,
         n.cents AS naive_cents, s.cents AS seasonal_cents
  FROM hourly c
  JOIN hourly n ON n.event_type = c.event_type
               AND n.h = c.h - INTERVAL 1 HOUR
  JOIN hourly s ON s.event_type = c.event_type
               AND s.h = c.h - INTERVAL 24 HOUR
),
m AS (
  SELECT event_type,
         count(*) AS n_eval,
         sum(abs(cents - naive_cents)) AS ae_naive,
         sum(abs(cents - seasonal_cents)) AS ae_seasonal
  FROM j GROUP BY event_type
)
SELECT event_type, n_eval,
       round(CAST(ae_naive AS DOUBLE) / n_eval / 100, 6) AS mae_naive,
       round(CAST(ae_seasonal AS DOUBLE) / n_eval / 100, 6) AS mae_seasonal,
       CASE WHEN ae_naive > 0
            THEN round(1 - CAST(ae_seasonal AS DOUBLE) / ae_naive, 6)
       END AS skill
FROM m
ORDER BY event_type
"""


@query("q_time_seasonal_naive_eval", oracle=_SNAIVE_ORACLE)
def q_time_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE backtest of the 24h seasonal-naive forecast vs plain naive,
    per event type, on hour-exact references."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    # The three-way self-join the oracle states would re-aggregate the
    # raw scan three times; instead each hourly row is emitted under the
    # three hour keys it can serve (itself, h+1 as naive ref, h+24 as
    # seasonal ref) and ONE regroup reassembles the join rows — same
    # result set, one scan, hourly-cardinality shuffles only.
    tagged = hourly.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(
                    F.col("h").alias("th"),
                    F.lit("c").alias("role"),
                    F.col("cents").alias("v"),
                ),
                F.struct(
                    (F.col("h") + F.expr("INTERVAL 1 HOUR")).alias("th"),
                    F.lit("n").alias("role"),
                    F.col("cents").alias("v"),
                ),
                F.struct(
                    (F.col("h") + F.expr("INTERVAL 24 HOUR")).alias("th"),
                    F.lit("s").alias("role"),
                    F.col("cents").alias("v"),
                ),
            )
        ).alias("e"),
    ).select("event_type", "e.th", "e.role", "e.v")
    j = (
        tagged.groupBy("event_type", "th")
        .agg(
            F.max(F.when(F.col("role") == "c", F.col("v"))).alias("cents"),
            F.max(F.when(F.col("role") == "n", F.col("v"))).alias(
                "naive_cents"
            ),
            F.max(F.when(F.col("role") == "s", F.col("v"))).alias(
                "seasonal_cents"
            ),
        )
        .filter(
            F.col("cents").isNotNull()
            & F.col("naive_cents").isNotNull()
            & F.col("seasonal_cents").isNotNull()
        )
    )
    m = j.groupBy("event_type").agg(
        F.count("*").alias("n_eval"),
        F.sum(F.abs(F.col("cents") - F.col("naive_cents"))).alias("ae_naive"),
        F.sum(F.abs(F.col("cents") - F.col("seasonal_cents"))).alias(
            "ae_seasonal"
        ),
    )
    return m.select(
        "event_type",
        "n_eval",
        F.round(
            F.col("ae_naive").cast("double") / F.col("n_eval") / 100, 6
        ).alias("mae_naive"),
        F.round(
            F.col("ae_seasonal").cast("double") / F.col("n_eval") / 100, 6
        ).alias("mae_seasonal"),
        F.when(
            F.col("ae_naive") > 0,
            F.round(
                F.lit(1)
                - F.col("ae_seasonal").cast("double") / F.col("ae_naive"),
                6,
            ),
        ).alias("skill"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Autocorrelation function at lag 1h and 24h. The diagnostic BEHIND
# q_time_seasonal_naive_eval: a high ACF(24) is what justifies the
# seasonal term. Same scale shape as the backtest — raw events collapse
# to (type, hour) once, then each hourly row is emitted under the
# (lag, hour) keys it can serve (x at its own hour, y at hour+lag) and
# one regroup rebuilds the hour-EXACT lag pairs; Pearson r comes from
# six exact integer sums per (type, lag) with the fixed-shape
# moment formula. Degenerate guard: zero variance on either side
# (constant series) yields NULL, not a crash.
# ---------------------------------------------------------------------------

_ACF_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
pairs AS (
  SELECT x.event_type, l.lag_h, x.cents AS xv, y.cents AS yv
  FROM (VALUES (1), (24)) l(lag_h)
  JOIN hourly x ON true
  JOIN hourly y ON y.event_type = x.event_type
               AND y.h = x.h - to_hours(CAST(l.lag_h AS BIGINT))
),
m AS (
  SELECT event_type, lag_h,
         count(*) AS n,
         CAST(sum(xv) AS DOUBLE) AS sx, CAST(sum(yv) AS DOUBLE) AS sy,
         CAST(sum(CAST(xv AS HUGEINT) * xv) AS DOUBLE) AS sxx,
         CAST(sum(CAST(yv AS HUGEINT) * yv) AS DOUBLE) AS syy,
         CAST(sum(CAST(xv AS HUGEINT) * yv) AS DOUBLE) AS sxy
  FROM pairs GROUP BY event_type, lag_h
)
SELECT event_type, lag_h, n,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN round((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy)), 6)
       END AS acf
FROM m
ORDER BY event_type, lag_h
"""


@query("q_time_autocorrelation", oracle=_ACF_ORACLE)
def q_time_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson autocorrelation of the hourly value series at lag 1h and
    24h per event type, on hour-exact pairs."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    entries = []
    for lag in (1, 24):
        entries.append(
            F.struct(
                F.lit(lag).alias("lag_h"),
                F.col("h").alias("th"),
                F.lit("x").alias("role"),
                F.col("cents").alias("v"),
            )
        )
        entries.append(
            F.struct(
                F.lit(lag).alias("lag_h"),
                (F.col("h") + F.expr(f"INTERVAL {lag} HOUR")).alias("th"),
                F.lit("y").alias("role"),
                F.col("cents").alias("v"),
            )
        )
    tagged = hourly.select(
        "event_type", F.explode(F.array(*entries)).alias("e")
    ).select("event_type", "e.lag_h", "e.th", "e.role", "e.v")
    dec = "decimal(38,0)"
    j = (
        tagged.groupBy("event_type", "lag_h", "th")
        .agg(
            F.max(F.when(F.col("role") == "x", F.col("v"))).alias("xv"),
            F.max(F.when(F.col("role") == "y", F.col("v"))).alias("yv"),
        )
        .filter(F.col("xv").isNotNull() & F.col("yv").isNotNull())
    )
    m = j.groupBy("event_type", "lag_h").agg(
        F.count("*").alias("n"),
        F.sum("xv").cast("double").alias("sx"),
        F.sum("yv").cast("double").alias("sy"),
        F.sum(F.col("xv").cast(dec) * F.col("xv")).cast("double").alias("sxx"),
        F.sum(F.col("yv").cast(dec) * F.col("yv")).cast("double").alias("syy"),
        F.sum(F.col("xv").cast(dec) * F.col("yv")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "event_type",
        "lag_h",
        "n",
        F.when(
            (n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0),
            F.round(
                (n * sxy - sx * sy)
                / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
                6,
            ),
        ).alias("acf"),
    ).orderBy("event_type", "lag_h")


# ---------------------------------------------------------------------------
# Peak session concurrency — the +1/-1 interval sweep. Sessions are the
# standard 30-minute-gap sessionization (split when gap >= 30 min,
# the native session_window rule, compared on exact microseconds); each contributes a (+1 at
# start, -1 at end) point and the running sum of the pinned-order point
# stream is the number of concurrently open sessions. Tie policy
# (pinned identically on both engines): at the same instant, ends sort
# before starts (delta ASC), then user_id — back-to-back sessions never
# double-count.
#
# Scale shape: the naive sweep is ONE global ordered cumsum — a
# single-partition window at cluster scale. This implementation runs
# the SEGMENTED prefix sum instead: local cumsum within each hour
# bucket (window partitioned by bucket) + an hour-level offset cumsum
# over the bounded bucket table, concurrency = offset + local. The
# oracle states the semantics with the plain global window; the hash
# match proves the two-level decomposition exact.
# ---------------------------------------------------------------------------

_CONCURRENCY_ORACLE = """
WITH ev AS (
  SELECT user_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE ts IS NOT NULL
),
flagged AS (
  SELECT user_id, ts, rn,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, rn) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, rn)
                      >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM ev
),
sess AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, rn
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sid,
         ts
  FROM flagged
),
bounds AS (
  SELECT user_id, sid, min(ts) AS s, max(ts) AS e
  FROM sess GROUP BY user_id, sid
),
pts AS (
  SELECT user_id, s AS ts, 1 AS delta FROM bounds
  UNION ALL
  SELECT user_id, e, -1 FROM bounds
),
sweep AS (
  SELECT ts, delta,
         CAST(sum(delta) OVER (ORDER BY ts, delta, user_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS conc
  FROM pts
)
SELECT CAST((SELECT count(*) FROM bounds) AS BIGINT) AS n_sessions,
       CAST(max(conc) AS BIGINT) AS peak_concurrency,
       min(ts) FILTER (WHERE conc = (SELECT max(conc) FROM sweep))
         AS peak_ts
FROM sweep
"""


@query("q_events_concurrency", oracle=_CONCURRENCY_ORACLE)
def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 30-min-gap sessions via the segmented +1/-1
    prefix sweep (hour-local cumsum + bounded bucket offsets)."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                # exact microseconds, not second-truncated epochs: a gap
                # in (1800, 1801)s must split on BOTH engines; >= matches
                # the native session_window semantics used by the rest
                # of the session kit
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wu))
                >= 1800 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    # the cumsum's order must pin TIED timestamps too (same key as the
    # lag window) or the two engines could assign tied rows to
    # different sessions
    sess = flagged.select(
        "user_id",
        F.sum("new_s")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("sid"),
        "ts",
    )
    # NOT materialized (round-15 honest A/B, full recompute per rep:
    # ckpt 1.00 s vs plain 0.91 s): bounds does feed both point
    # streams, but the sessionization below it ends in the groupBy's
    # own exchange, so the second stream re-runs only the post-shuffle
    # aggregate — cheaper than the checkpoint round-trip + rebuild.
    bounds = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    pts = bounds.select(
        "user_id", F.col("s").alias("ts"), F.lit(1).alias("delta")
    ).unionAll(
        bounds.select("user_id", F.col("e").alias("ts"), F.lit(-1).alias("delta"))
    )
    # segmented prefix sum: hour-local running sums + bucket offsets
    pts = pts.withColumn("bucket", F.date_trunc("hour", "ts"))
    wl = (
        Window.partitionBy("bucket")
        .orderBy("ts", "delta", "user_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = pts.select(
        "bucket", "ts", F.sum("delta").over(wl).alias("local_sum")
    )
    totals = pts.groupBy("bucket").agg(F.sum("delta").alias("net"))
    wb = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "bucket", F.coalesce(F.sum("net").over(wb), F.lit(0)).alias("offset")
    )
    sweep = local.join(F.broadcast(offsets), "bucket").select(
        "ts", (F.col("offset") + F.col("local_sum")).cast("bigint").alias("conc")
    )
    n_sessions = bounds.agg(F.count("*").cast("bigint").alias("n_sessions"))
    peak = sweep.agg(F.max("conc").alias("peak"))
    return (
        sweep.crossJoin(F.broadcast(peak))
        .filter(F.col("conc") == F.col("peak"))
        .agg(
            F.max("peak").cast("bigint").alias("peak_concurrency"),
            F.min("ts").alias("peak_ts"),
        )
        .crossJoin(F.broadcast(n_sessions))
        .select("n_sessions", "peak_concurrency", "peak_ts")
    )


# ---------------------------------------------------------------------------
# Seasonality strength (eta-squared of the hour-of-day factor). The
# one-number answer to "does this series have a daily cycle worth
# modeling" — the ANOVA decomposition: between-group (hour-of-day)
# sum of squares over total sum of squares on the hourly series. All
# moments are exact integer sums (cents, cents², per-bucket counts);
# eta² is one fixed-shape double expression. Complements
# q_time_autocorrelation (ACF measures linear lag memory, eta² the
# periodic component) and justifies or kills the seasonal term the
# backtest scores. Degenerate guard: zero total variance -> NULL.
# ---------------------------------------------------------------------------

_SEAS_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(hour(ts) AS INTEGER) AS hod,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts), hour(ts)
),
g AS (
  SELECT event_type, hod,
         count(*) AS n_g,
         sum(cents) AS s_g
  FROM hourly GROUP BY event_type, hod
),
t AS (
  SELECT event_type,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS DOUBLE) AS s,
         -- per-group s_g^2/n_g is a DIVISION: DuckDB's / yields double
         -- (order-dependent sum) while Spark's decimal / stays exact —
         -- so round each term to 4 dp and sum as exact DECIMAL on BOTH
         -- engines (24 hour-of-day terms per type; the KL discipline)
         CAST(sum(CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                             / n_g, 4) AS DECIMAL(28,4))) AS DOUBLE)
           AS ssb_raw
  FROM g GROUP BY event_type
),
tot AS (
  SELECT event_type,
         CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS ss
  FROM hourly GROUP BY event_type
)
SELECT t.event_type, n,
       CASE WHEN ss - s * s / n > 0
            THEN round((ssb_raw - s * s / n) / (ss - s * s / n), 6)
       END AS seasonal_eta2
FROM t JOIN tot ON tot.event_type = t.event_type
ORDER BY t.event_type
"""


@query("q_time_seasonality_strength", oracle=_SEAS_ORACLE)
def q_time_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eta-squared of hour-of-day on the hourly value series per type."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    dec = "decimal(38,0)"
    g = hourly.groupBy("event_type", "hod").agg(
        F.count("*").alias("n_g"), F.sum("cents").alias("s_g")
    )
    t = g.groupBy("event_type").agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("double").alias("s"),
        F.sum(
            F.round(
                F.col("s_g").cast("double")
                * F.col("s_g").cast("double")
                / F.col("n_g"),
                4,
            ).cast("decimal(28,4)")
        )
        .cast("double")
        .alias("ssb_raw"),
    )
    tot = hourly.groupBy("event_type").agg(
        F.sum(F.col("cents").cast(dec) * F.col("cents"))
        .cast("double")
        .alias("ss")
    )
    j = t.join(tot, "event_type")
    n, s = F.col("n"), F.col("s")
    return j.select(
        "event_type",
        "n",
        F.when(
            F.col("ss") - s * s / n > 0,
            F.round(
                (F.col("ssb_raw") - s * s / n) / (F.col("ss") - s * s / n), 6
            ),
        ).alias("seasonal_eta2"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve for time-to-convert WITH right-censoring
# (Kaplan & Meier 1958) — the censoring-aware upgrade of
# q_events_time_to_convert: users who never purchased are not dropped
# (that biases conversion latency optimistic) but counted as censored
# at their LAST observed event. Durations collapse to whole hours, so
# every KM step works on the bounded distinct-hour domain, never rows:
#   n_risk(t) = N - #{dur < t}          (cumulative count window)
#   S(t)      = prod_{s<=t, d_s>0} (1 - d_s / n_risk(s))
# The product is exp(sum(ln ...)) over the ordered step window — the
# same fixed-shape IEEE fold both engines run (established by the
# entropy/KL family); a d_s = n_risk(s) extinction step is guarded to
# exact 0 instead of ln(0). Censored-only hours shrink the risk set
# but emit no step row (standard KM). Scale: ONE events scan — a
# user-partitioned window derives signup/last, and the conditional
# min-purchase groupBy reuses the same user_id partitioning (no second
# exchange) — then one groupBy(hour) + one ordered window over
# distinct hours, 1-row total broadcast. Nothing row-ordered.
# ---------------------------------------------------------------------------

_KM_ORACLE = """
WITH su AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
         max(ts) AS last_ts
  FROM events WHERE ts IS NOT NULL
  GROUP BY user_id
  HAVING signup_ts IS NOT NULL
),
p AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN su USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > su.signup_ts
  GROUP BY e.user_id
),
d AS (
  -- floor each epoch BEFORE subtracting (unix_timestamp parity)
  SELECT CAST(floor((CAST(floor(epoch(coalesce(p.purchase_ts, su.last_ts)))
                          AS BIGINT)
                     - CAST(floor(epoch(su.signup_ts)) AS BIGINT))
                    / 3600) AS BIGINT) AS dur_h,
         CAST(p.purchase_ts IS NOT NULL AS INTEGER) AS ev
  FROM su LEFT JOIN p USING (user_id)
),
steps AS (
  SELECT dur_h, count(*) AS c_all, CAST(sum(ev) AS BIGINT) AS d_ev
  FROM d GROUP BY dur_h
),
tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total FROM steps),
risk AS (
  SELECT dur_h, d_ev,
         n_total - CAST(coalesce(sum(c_all) OVER (ORDER BY dur_h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS n_risk
  FROM steps CROSS JOIN tot
),
ev_steps AS (SELECT * FROM risk WHERE d_ev > 0),
curve AS (
  SELECT dur_h, n_risk, d_ev,
         max(CASE WHEN d_ev >= n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY dur_h) AS extinct,
         sum(CASE WHEN d_ev >= n_risk THEN 0
                  ELSE ln(1 - CAST(d_ev AS DOUBLE) / n_risk) END)
           OVER (ORDER BY dur_h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum
  FROM ev_steps
)
SELECT dur_h, n_risk, d_ev,
       CASE WHEN extinct = 1 THEN CAST(0 AS DOUBLE)
            ELSE round(exp(lsum), 6) END AS survival
FROM curve ORDER BY dur_h
"""


@query("q_events_kaplan_meier", oracle=_KM_ORACLE)
def q_events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-censored KM conversion-survival curve over whole-hour
    durations; censored users exit the risk set silently."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # ONE events scan: per-user signup/last come from a window over the
    # user partitioning, and the conditional min-purchase groupBy reuses
    # the same user_id partitioning (no second exchange, no re-derived
    # lineage — the q_events_pagerank materialize-before-reuse lesson
    # applied at plan-shape level, pinned in tests/test_plans.py)
    wu = Window.partitionBy("user_id")
    e2 = e.select(
        "user_id",
        "ts",
        "event_type",
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        )
        .over(wu)
        .alias("signup_ts"),
        F.max("ts").over(wu).alias("last_ts"),
    ).filter(F.col("signup_ts").isNotNull())
    d = e2.groupBy("user_id", "signup_ts", "last_ts").agg(
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("signup_ts")),
                F.col("ts"),
            )
        ).alias("purchase_ts")
    )
    d = d.select(
        F.floor(
            (
                F.unix_timestamp(
                    F.coalesce(F.col("purchase_ts"), F.col("last_ts"))
                )
                - F.unix_timestamp("signup_ts")
            )
            / F.lit(3600)
        )
        .cast("bigint")
        .alias("dur_h"),
        F.col("purchase_ts").isNotNull().cast("int").alias("ev"),
    )
    steps = d.groupBy("dur_h").agg(
        F.count("*").alias("c_all"), F.sum("ev").cast("bigint").alias("d_ev")
    )
    tot = F.broadcast(
        steps.agg(F.sum("c_all").cast("bigint").alias("n_total"))
    )
    wprev = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = steps.crossJoin(tot).select(
        "dur_h",
        "d_ev",
        (
            F.col("n_total")
            - F.coalesce(F.sum("c_all").over(wprev), F.lit(0)).cast("bigint")
        ).alias("n_risk"),
    )
    ev_steps = risk.filter(F.col("d_ev") > 0)
    wcum = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    extinct_flag = F.when(F.col("d_ev") >= F.col("n_risk"), 1).otherwise(0)
    ln_term = F.when(F.col("d_ev") >= F.col("n_risk"), F.lit(0.0)).otherwise(
        F.log(F.lit(1) - F.col("d_ev").cast("double") / F.col("n_risk"))
    )
    curve = ev_steps.select(
        "dur_h",
        "n_risk",
        "d_ev",
        F.max(extinct_flag).over(wcum).alias("extinct"),
        F.sum(ln_term).over(wcum).alias("lsum"),
    )
    return curve.select(
        "dur_h",
        "n_risk",
        "d_ev",
        F.when(F.col("extinct") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lsum"), 6))
        .alias("survival"),
    ).orderBy("dur_h")


# ---------------------------------------------------------------------------
# Burst detection — the rate-anomaly twin of the MAD/z-score outlier
# ops above, on the HOURLY-RATE axis (the Kleinberg burst question,
# "Bursty and hierarchical structure in streams" KDD 2002, reduced to
# its production form: is this hour's event count a multiple of the
# trailing-day baseline?). Per type, the hourly bucket counts are
# compared against the sum over the previous 24 OBSERVED hourly
# buckets (dense bucket stream assumed — gap-fill is
# q_time_gap_fill's job), and the top-5 burst candidates per type are
# reported with their ratio and the >= 2x flag. Exactness: the flag is
# the INTEGER cross-multiplication n*base_n >= 2*base_sum (no float in
# the decision); ratio = n*base_n/base_sum is one IEEE division on
# identical integer operands, so the (ratio DESC, hour) ranking orders
# identically on both engines. Scale shape: one partial-agg'd groupBy
# onto the HOUR-BUCKET domain (rows collapse ~3-4 orders of magnitude
# before any window), then two windows over buckets per type — never
# over raw events — and a top-5 cut. At 100 TB the bucket table is
# years x types x 8760 rows: trivially window-able.
# ---------------------------------------------------------------------------

_BURST_BASE_HOURS = 24
_BURST_TOPK = 5

_BURST_ORACLE = f"""
WITH hourly AS (
  -- NULL ts carries no bucket, and the NULL bucket would sort NULLS
  -- FIRST in Spark's window vs NULLS LAST in DuckDB's — exclude it
  -- like every other event-time fold here
  SELECT event_type, date_trunc('hour', ts) AS bar_hour,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
base AS (
  SELECT event_type, bar_hour, n,
         CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS base_sum,
         CAST(count(n) OVER w AS BIGINT) AS base_n
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bar_hour
               ROWS BETWEEN {_BURST_BASE_HOURS} PRECEDING
               AND 1 PRECEDING)
),
scored AS (
  SELECT event_type, bar_hour, n, base_sum,
         round(CAST(n * base_n AS DOUBLE) / base_sum, 6) AS ratio,
         CAST(n * base_n >= 2 * base_sum AS INTEGER) AS is_burst
  FROM base WHERE base_n = {_BURST_BASE_HOURS}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY ratio DESC, bar_hour) AS rnk
  FROM scored
)
SELECT event_type, rnk, bar_hour, n AS n_events, base_sum, ratio, is_burst
FROM ranked WHERE rnk <= {_BURST_TOPK}
ORDER BY event_type, rnk
"""


@query("q_time_burst_detection", oracle=_BURST_ORACLE)
def q_time_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hourly burst candidates per event type: this hour's count
    vs the trailing-24-observed-hours baseline, integer-exact >= 2x
    flag, ranked by rate ratio."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bar_hour")
    ).agg(F.count("*").alias("n"))
    wb = (
        Window.partitionBy("event_type")
        .orderBy("bar_hour")
        .rowsBetween(-_BURST_BASE_HOURS, -1)
    )
    base = hourly.select(
        "event_type",
        "bar_hour",
        "n",
        F.coalesce(F.sum("n").over(wb), F.lit(0))
        .cast("bigint")
        .alias("base_sum"),
        F.count("n").over(wb).cast("bigint").alias("base_n"),
    )
    scored = base.filter(F.col("base_n") == _BURST_BASE_HOURS).select(
        "event_type",
        "bar_hour",
        "n",
        "base_sum",
        F.round(
            (F.col("n") * F.col("base_n")).cast("double")
            / F.col("base_sum"),
            6,
        ).alias("ratio"),
        (F.col("n") * F.col("base_n") >= F.lit(2) * F.col("base_sum"))
        .cast("int")
        .alias("is_burst"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("ratio").desc(), "bar_hour"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _BURST_TOPK)
        .select(
            "event_type",
            "rnk",
            "bar_hour",
            F.col("n").alias("n_events"),
            "base_sum",
            "ratio",
            "is_burst",
        )
        .orderBy("event_type", "rnk")
    )


# ---------------------------------------------------------------------------
# Interval-join latency rollup: the batch form of a stream-stream
# interval join with watermarks (SURVEY §2.2 streaming kit).
# Semantics: every purchase a user makes within (0, 30 min] of one of
# their clicks is an attributed conversion; report per click-hour how
# many conversions landed and how fast. Scale shape: equi-join on
# user_id (hash join, never a cross product) with the time bound as a
# post-filter — in streaming the same bound is what lets the engine GC
# join state; the lag domain is exact integer microseconds, the two
# divisions are single IEEE ops on identical operand shapes, so both
# engines agree bitwise.
# ---------------------------------------------------------------------------

_INTERVAL_LAT_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, c.ts) AS click_hour,
       count(*) AS n_pairs,
       CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS sum_lag_us,
       max(epoch_us(p.ts) - epoch_us(c.ts)) AS max_lag_us,
       CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS DOUBLE)
         / count(*) / 1000000 AS avg_lag_s
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY click_hour
ORDER BY click_hour
"""


@query("q_time_interval_latency", oracle=_INTERVAL_LAT_ORACLE)
def q_time_interval_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.interval import interval_join_cond, interval_latency_rollup

    e = load(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    return interval_latency_rollup(
        c.join(p, interval_join_cond("30 minutes"))
    ).orderBy("click_hour")


# ---------------------------------------------------------------------------
# Dynamic-gap sessionization: session_window with a PER-EVENT gap
# column (clicks keep a session alive 30 min, everything else 10 min)
# — the Spark-4 dynamic session feature. Same single-shuffle shape as
# the fixed-gap q_time_session_window; the oracle replays Spark's
# half-open merge rule exactly: an event starts a new session iff its
# time >= the running max of (ts_i + gap_i) over all earlier events of
# the key, session end = max event end. The gap expression and rollup
# live in operators/sessions.py.
# ---------------------------------------------------------------------------


def _dg_us(duration: str) -> int:
    """'N minutes' -> microseconds; strict so a unit change in
    operators/sessions.py fails loudly here instead of silently
    diverging the oracle."""
    import re

    m = re.fullmatch(r"(\d+) minutes", duration)
    if m is None:
        raise ValueError(f"expected 'N minutes', got {duration!r}")
    return int(m.group(1)) * 60_000_000


def _dg_gaps() -> tuple[int, int]:
    from ..operators.sessions import CLICK_GAP, OTHER_GAP

    return _dg_us(CLICK_GAP), _dg_us(OTHER_GAP)


_DG_CLICK_US, _DG_OTHER_US = _dg_gaps()

_DYNAMIC_GAP_ORACLE = f"""
WITH t AS (
  SELECT user_id, ts, epoch_us(ts) AS tus,
         epoch_us(ts) + CASE WHEN event_type = 'click'
                        THEN {_DG_CLICK_US} ELSE {_DG_OTHER_US} END AS eus
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
flagged AS (
  SELECT *, CASE WHEN tus >= coalesce(max(eus) OVER (
      PARTITION BY user_id ORDER BY tus, eus
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
    THEN 1 ELSE 0 END AS new_s
  FROM t
),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, eus
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, make_timestamp(min(tus)) AS s_start,
       make_timestamp(max(eus)) AS s_end, count(*) AS n
FROM sess GROUP BY user_id, sid
ORDER BY user_id, s_start
"""


@query("q_time_session_dynamic_gap", oracle=_DYNAMIC_GAP_ORACLE)
def q_time_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import session_rollup

    return session_rollup(load(spark, sf_dir, "events")).orderBy(
        "user_id", "s_start"
    )


# ---------------------------------------------------------------------------
# Conversion-rate rollup: the LEFT-OUTER complement of
# q_time_interval_latency — every click counted, converted or not, so
# the per-hour CONVERSION RATE (not just the latency of conversions)
# is reportable. Same equi-join-on-user shape; the click key is its
# event_id so the one-to-many purchase fan-out never double-counts a
# click. Exact integer counts, one IEEE division.
# ---------------------------------------------------------------------------

_CONVERSION_RATE_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, c.ts) AS click_hour,
       count(DISTINCT c.event_id) AS n_clicks,
       count(DISTINCT CASE WHEN p.ts IS NOT NULL THEN c.event_id END)
         AS n_converted,
       CAST(count(DISTINCT CASE WHEN p.ts IS NOT NULL THEN c.event_id END)
            AS DOUBLE) / count(DISTINCT c.event_id) AS conversion_rate
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL) c
LEFT JOIN (SELECT user_id, ts FROM events
           WHERE event_type = 'purchase' AND ts IS NOT NULL) p
  ON c.user_id = p.user_id
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY click_hour
ORDER BY click_hour
"""


@query("q_time_conversion_rate", oracle=_CONVERSION_RATE_ORACLE)
def q_time_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.interval import (
        CONVERSION_WINDOW,
        conversion_rate_select,
        interval_join_cond,
    )

    # the null-ts guard is EXPLICIT on both engines: F.window would drop
    # a NULL-ts click silently batch-side while time_bucket(NULL) groups
    # it under a NULL hour oracle-side — the latent-mismatch class the
    # dynamic-gap oracle's ts IS NOT NULL already closes
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    grouped = (
        c.join(p, interval_join_cond("30 minutes"), "left")
        .groupBy(F.window("c_ts", CONVERSION_WINDOW).alias("w"))
        .agg(
            F.count_distinct("click_id").alias("n_clicks"),
            F.count_distinct(
                F.when(F.col("p_ts").isNotNull(), F.col("click_id"))
            ).alias("n_converted"),
        )
    )
    return conversion_rate_select(grouped).orderBy("click_hour")


# ---------------------------------------------------------------------------
# Additive Holt-Winters (triple exponential smoothing; Hyndman &
# Athanasopoulos ch. 8.3) per event type over the HOURLY revenue series
# — the seasonal rung above q_time_holt_trend on the forecasting ladder
# (naive -> seasonal-naive -> EWMA -> Holt -> Holt-Winters), for the
# series q_time_seasonality_strength already showed carries an
# hour-of-day signal.
# Level + trend + a 24-slot hour-of-day seasonal
# vector fold together, zero-seeded like the EWMA/Holt folds; the
# one-step forecast is level + trend + season[(last_hour + 1) % 24].
# Scale shape: raw events collapse to the bounded (type x hour) grain
# in ONE map+partial-agg pass; the sequential fold then runs over
# hourly buckets only, with O(m)=O(24) state per key — never
# event-cardinality work or state. Both engines run the IDENTICAL
# fixed-shape IEEE op sequence (Spark folds a struct(l, b, s[24])
# accumulator with F.aggregate; the oracle replays the same recurrence
# with a recursive CTE carrying 24 seasonal columns), so the 6-dp round
# only swallows cross-libm noise, never reordering.
# ---------------------------------------------------------------------------

_HWS_ALPHA, _HWS_BETA, _HWS_GAMMA = 0.3, 0.1, 0.2
_HWS_M = 24  # season length: hour of day


def _hws_oracle() -> str:
    a, b, g = _HWS_ALPHA, _HWS_BETA, _HWS_GAMMA
    s_prev = (
        "(CASE e.hod "
        + " ".join(f"WHEN {k} THEN f.s{k}" for k in range(_HWS_M))
        + " END)"
    )
    new_l = f"{a} * (e.y - {s_prev}) + {1 - a} * (f.l + f.b)"
    seed_s = ", ".join(f"CAST(0 AS DOUBLE) AS s{k}" for k in range(_HWS_M))
    step_s = ", ".join(
        f"CASE WHEN e.hod = {k} THEN {g} * (e.y - (f.l + f.b)) "
        f"+ {1 - g} * f.s{k} ELSE f.s{k} END"
        for k in range(_HWS_M)
    )
    s_next = (
        "(CASE (f.hod + 1) % 24 "
        + " ".join(f"WHEN {k} THEN f.s{k}" for k in range(_HWS_M))
        + " END)"
    )
    return f"""
WITH RECURSIVE hourly AS (
  SELECT event_type,
         CAST(extract(hour FROM date_trunc('hour', ts)) AS INT) AS hod,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY date_trunc('hour', ts)) AS rn
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
fold AS (
  SELECT event_type, 0 AS rn, 0 AS hod,
         CAST(0 AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b, {seed_s}
  FROM (SELECT DISTINCT event_type FROM hourly)
  UNION ALL
  SELECT e.event_type, e.rn, e.hod,
         {new_l},
         {b} * (({new_l}) - f.l) + {1 - b} * f.b,
         {step_s}
  FROM fold f JOIN hourly e
    ON e.event_type = f.event_type AND e.rn = f.rn + 1
),
last AS (SELECT event_type AS le, max(rn) AS mx FROM fold
         GROUP BY event_type)
SELECT f.event_type, CAST(f.rn AS BIGINT) AS n_hours,
       round(f.l, 6) AS level, round(f.b, 6) AS trend,
       round({s_next}, 6) AS season_next,
       round(f.l + f.b + {s_next}, 6) AS forecast_next
FROM fold f JOIN last ON last.le = f.event_type AND f.rn = last.mx
ORDER BY f.event_type
"""


HOLT_WINTERS_ORACLE = _hws_oracle()


@query("q_time_holt_winters", oracle=HOLT_WINTERS_ORACLE)
def q_time_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("double")
        .alias("y")
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("h", "y"))),
        lambda x: F.struct(
            F.hour(x.h).cast("int").alias("hod"), x.y.alias("y")
        ),
    )
    a, b_, g = F.lit(_HWS_ALPHA), F.lit(_HWS_BETA), F.lit(_HWS_GAMMA)
    one_a = F.lit(1 - _HWS_ALPHA)
    one_b = F.lit(1 - _HWS_BETA)
    one_g = F.lit(1 - _HWS_GAMMA)

    def step(acc, x):
        s_prev = F.element_at(acc.s, x.hod + 1)
        new_l = a * (x.y - s_prev) + one_a * (acc.l + acc.b)
        new_s = g * (x.y - (acc.l + acc.b)) + one_g * s_prev
        return F.struct(
            new_l.alias("l"),
            (b_ * (new_l - acc.l) + one_b * acc.b).alias("b"),
            F.transform(
                acc.s,
                lambda v, i: F.when(i == x.hod, new_s).otherwise(v),
            ).alias("s"),
            x.hod.alias("hod"),
        )

    folded = F.aggregate(
        ordered,
        F.struct(
            F.lit(0.0).alias("l"),
            F.lit(0.0).alias("b"),
            F.array_repeat(F.lit(0.0), _HWS_M).alias("s"),
            F.lit(0).cast("int").alias("hod"),
        ),
        step,
    )
    season_next = F.element_at(
        F.col("hw.s"), (F.col("hw.hod") + 1) % _HWS_M + 1
    )
    return (
        hourly.groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_hours"), folded.alias("hw"))
        .select(
            "event_type",
            "n_hours",
            F.round(F.col("hw.l"), 6).alias("level"),
            F.round(F.col("hw.b"), 6).alias("trend"),
            F.round(season_next, 6).alias("season_next"),
            F.round(
                F.col("hw.l") + F.col("hw.b") + season_next, 6
            ).alias("forecast_next"),
        )
        .orderBy("event_type")
    )
