"""Internal-consistency invariants of the round-10 scale re-shapes —
each fixed query's segmented/bucketed form must equal the naive
single-window form it replaced, on real fixture data, with bucket
widths small enough to force every merge level."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oraaud_kafka_spark import registry
from oraaud_kafka_spark.tables import load

registry.load_all()


def test_late_data_segmented_prefix_max_matches_plain_window(spark, sf_dir):
    """q_time_late_data's two-level segmented running max (round-10
    re-shape of the unpartitioned ORDER BY event_id window) must be
    exactly the plain global-window computation. _w=16/_sb=4 on the
    1000-event fixture forces ~63 buckets across ~16 superbuckets, so
    both merge levels carry real offsets."""
    fn = registry.QUERIES["q_time_late_data"].__wrapped__
    got = fn(spark, sf_dir, _w=16, _sb=4).toPandas()

    e = load(spark, sf_dir, "events")
    w = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lateness = F.max("ts").over(w).cast("long") - F.col("ts").cast("long")
    want = (
        e.select("event_type", lateness.alias("lateness_s"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("lateness_s") >= 600, 1).otherwise(0)).alias(
                "n_late"
            ),
        )
        .orderBy("event_type")
        .toPandas()
    )
    assert got.values.tolist() == want.values.tolist()


def test_late_data_segmented_handles_null_ts_prefix(spark):
    """greatest() must reproduce the plain window's NULL semantics: an
    all-NULL-ts prefix keeps the running max NULL (lateness NULL, not
    counted late); a NULL after a real max leaves lateness NULL too."""
    rows = [
        (0, "a", None),
        (1, "a", None),
        (2, "a", "2024-01-01 00:00:00"),
        (3, "a", None),
        (4, "a", "2024-01-01 02:00:00"),
        (5, "a", "2024-01-01 00:30:00"),  # 1.5h late vs id-4 max
    ]
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id bigint, event_type string, ts_s string"
        ).select(
            "event_id", "event_type", F.to_timestamp("ts_s").alias("ts")
        ).write.parquet(os.path.join(d, "events.parquet"))
        fn = registry.QUERIES["q_time_late_data"].__wrapped__
        got = fn(spark, d, _w=2, _sb=2).toPandas()
    assert got.values.tolist() == [["a", 6, 1]]


def test_drawdown_segmented_running_peak_matches_plain_window(spark, sf_dir):
    """q_window_max_drawdown's month-segmented running peak (round-10
    re-shape of the 5-value-partition window) must equal the naive
    per-priority single-window computation on the orders fixture."""
    got = registry.QUERIES["q_window_max_drawdown"].__wrapped__(
        spark, sf_dir
    ).toPandas()

    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    series = o.select(
        "o_orderpriority",
        cents.alias("cents"),
        F.max(cents).over(w).cast("bigint").alias("run_peak"),
    )
    g = series.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        F.max("run_peak").cast("bigint").alias("peak_cents"),
        F.max(F.col("run_peak") - F.col("cents"))
        .cast("bigint")
        .alias("max_dd_cents"),
    )
    want = g.select(
        "o_orderpriority",
        "n_rows",
        F.round(F.col("peak_cents").cast("double") / 100, 6).alias(
            "peak_dollars"
        ),
        F.round(F.col("max_dd_cents").cast("double") / 100, 6).alias(
            "max_drawdown_dollars"
        ),
        F.when(
            F.col("peak_cents") != 0,
            F.round(
                F.col("max_dd_cents").cast("double") / F.col("peak_cents"), 6
            ),
        ).alias("dd_share"),
    ).orderBy("o_orderpriority").toPandas()
    assert got.values.tolist() == want.values.tolist()


def test_exact_ntile_matches_window_ntile(spark, sf_dir):
    """The range-bucketed exact rank behind q_events_rfm must reproduce
    F.ntile exactly for every dimension and direction, including with a
    tiny bucket count that forces many cross-bucket offsets."""
    from oraaud_kafka_spark.queries.event_time import _exact_ntile

    e = load(spark, sf_dir, "events")
    base = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("frequency"),
    )
    for n_buckets in (2, 7, 256):
        got = (
            _exact_ntile(base, F.col("frequency"), "s", n_buckets=n_buckets)
            .orderBy("user_id")
            .toPandas()
        )
        w = Window.orderBy(F.col("frequency").asc(), "user_id")
        want = (
            base.select("user_id", F.ntile(5).over(w).alias("s"))
            .orderBy("user_id")
            .toPandas()
        )
        assert got.values.tolist() == want.values.tolist(), n_buckets
    # descending via negation
    got = (
        _exact_ntile(base, -F.col("frequency"), "s")
        .orderBy("user_id")
        .toPandas()
    )
    wd = Window.orderBy(F.col("frequency").desc(), "user_id")
    want = (
        base.select("user_id", F.ntile(5).over(wd).alias("s"))
        .orderBy("user_id")
        .toPandas()
    )
    assert got.values.tolist() == want.values.tolist()


def test_exact_ntile_fewer_rows_than_tiles(spark):
    """n < k: ntile assigns tile i to row i; the ANSI guard must keep
    the unused q=0 branch from dividing by zero."""
    from oraaud_kafka_spark.queries.event_time import _exact_ntile

    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "user_id bigint, v bigint"
    )
    got = (
        _exact_ntile(base, F.col("v"), "s").orderBy("user_id").toPandas()
    )
    assert got.values.tolist() == [[1, 1], [2, 2], [3, 3]]


def test_late_data_segmented_scan_property(spark, tmp_path):
    """Property check over adversarial shapes the fixture can't cover:
    random sparse/duplicate/NULL event streams at several bucket
    widths must match a pure-Python replay of the global running-max
    fold (hypothesis deadline disabled — each case runs Spark jobs)."""
    import os

    from hypothesis import given, settings, strategies as st

    @settings(max_examples=5, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=500),  # event_id
                st.one_of(
                    st.none(),
                    st.integers(min_value=0, max_value=100_000),  # ts s
                ),
            ),
            min_size=1,
            max_size=60,
            unique_by=lambda r: r[0],
        ),
        w=st.sampled_from([2, 7, 64]),
        sb=st.sampled_from([2, 8]),
    )
    def check(rows, w, sb):
        d = str(tmp_path / f"p{abs(hash((tuple(rows), w, sb))) % 10**9}")
        os.makedirs(d, exist_ok=True)
        spark.createDataFrame(
            [(eid, "t", ts) for eid, ts in rows],
            "event_id bigint, event_type string, ts_s bigint",
        ).select(
            "event_id",
            "event_type",
            F.to_timestamp(F.from_unixtime("ts_s")).alias("ts"),
        ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        fn = registry.QUERIES["q_time_late_data"].__wrapped__
        got = fn(spark, d, _w=w, _sb=sb).toPandas()

        # pure-Python replay of the plain global window
        seq = sorted(rows)
        run = None
        n = late = 0
        for _, ts in seq:
            if ts is not None and (run is None or ts > run):
                run = ts
            n += 1
            if ts is not None and run is not None and run - ts >= 600:
                late += 1
        assert got.values.tolist() == [["t", n, late]]

    check()

