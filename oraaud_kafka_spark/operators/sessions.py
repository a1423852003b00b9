"""Dynamic-gap sessionization pieces — the ONE definition of the
per-event-type session gap and the session rollup, used by the batch
query q_time_session_dynamic_gap (queries/event_time.py).

Semantics: Spark-4 dynamic session windows — each event keeps its
user's session alive for a PER-EVENT gap (clicks 30 min, everything
else 10 min); sessions merge under the engine's half-open rule (an
event joins a session iff its time < the running max of event end
times). NULL-ts / NULL-user rows carry no session position and are
excluded, as in the query's DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CLICK_GAP = "30 minutes"
OTHER_GAP = "10 minutes"


def session_gap() -> Column:
    """Per-event session keep-alive: the dynamic-gap expression
    session_window accepts in batch and streaming alike."""
    return F.when(
        F.col("event_type") == "click", F.lit(CLICK_GAP)
    ).otherwise(F.lit(OTHER_GAP))


def session_rollup(events: DataFrame) -> DataFrame:
    """Per-user dynamic-gap sessions: one shuffle on (user_id, window),
    emitted as (user_id, s_start, s_end, n). The caller supplies a
    batch frame or a watermarked stream; session state is merged by the
    engine and, stream-side, closed when the watermark passes a
    session's end."""
    ev = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", session_gap()).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n",
        )
    )
