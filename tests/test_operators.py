"""Reusable operator library tests: as-of join (vs a naive reference
computed in Python), salted skew join (identical multiset vs plain
join)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from oraaud_kafka_spark.operators.asof import asof_join
from oraaud_kafka_spark.operators.skew import salted_join
from oraaud_kafka_spark.tables import load

SF = "/root/testdata/sf0.001"


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_backward_semantics(spark):
    quotes = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 100.0),
            (1, _ts("2024-01-01 10:05:00"), 101.0),
            (2, _ts("2024-01-01 10:01:00"), 200.0),
        ],
        "sym long, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "t1"),  # equal ts -> match 100
            (1, _ts("2024-01-01 10:04:59"), "t2"),  # before 2nd quote -> 100
            (1, _ts("2024-01-01 10:06:00"), "t3"),  # after 2nd -> 101
            (2, _ts("2024-01-01 10:00:00"), "t4"),  # before any quote -> null
            (3, _ts("2024-01-01 10:00:00"), "t5"),  # key never quoted -> null
        ],
        "sym long, tts timestamp, trade_id string",
    )
    out = asof_join(
        trades,
        quotes,
        on=["sym"],
        probe_ts="tts",
        build_ts="qts",
        value_cols=["px"],
    )
    got = {r.trade_id: r.px for r in out.collect()}
    assert got == {"t1": 100.0, "t2": 100.0, "t3": 101.0, "t4": None, "t5": None}


def test_asof_join_tolerance(spark):
    quotes = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 100.0)], "sym long, qts timestamp, px double"
    )
    trades = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:30:00"), "near"),
            (1, _ts("2024-01-01 12:00:00"), "far"),
        ],
        "sym long, tts timestamp, trade_id string",
    )
    out = asof_join(
        trades,
        quotes,
        on=["sym"],
        probe_ts="tts",
        build_ts="qts",
        value_cols=["px"],
        tolerance=F.expr("INTERVAL 1 HOUR"),
    )
    got = {r.trade_id: r.px for r in out.collect()}
    assert got == {"near": 100.0, "far": None}


def test_salted_join_matches_plain_join(spark):
    li = load(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, SF, "orders").select("o_orderkey", "o_orderpriority")
    o = o.withColumnRenamed("o_orderkey", "l_orderkey")
    plain = (
        li.join(o, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    )
    salted = (
        salted_join(li, o, on="l_orderkey", n_salts=8)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_plan_report_counts(spark):
    from oraaud_kafka_spark.plans.inspect import plan_report

    li = load(spark, SF, "lineitem").filter(F.col("l_partkey") < 100)
    o = load(spark, SF, "orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
    r = plan_report(joined, execute=True)
    assert r.joins, "expected at least one join node"
    assert r.n_shuffles >= 1
    assert any("l_partkey" in f for f in r.pushed_filters)
    assert "l_partkey" in r.scan_reads_only


def test_registry_plan_cache_per_session_and_dir(spark, registry_builds):
    """Registered callables memoize the built plan per (session,
    sf_dir): a repeat call with the same key returns a new DataFrame
    over that plan without rebuilding it, and a different sf_dir runs
    its own plan against the other fixture set. The first build in a
    cold session loads lineitem, whose parquet schema job keeps that one
    build out of the memo."""
    from oraaud_kafka_spark import registry

    from .conftest import SF_DIR, SF_DIR_CORRECTNESS

    registry.load_all()
    fn = registry.QUERIES["q1_pricing_summary"]
    fn(spark, SF_DIR)
    a = fn(spark, SF_DIR)
    built = len(registry_builds)
    b = fn(spark, SF_DIR)
    assert len(registry_builds) == built
    assert a is not b
    c = fn(spark, SF_DIR_CORRECTNESS)
    assert a.collect() == b.collect() != c.collect()


def test_registry_memo_hit_runs_the_full_query(spark, registry_builds):
    """Every call of a memoized query plans and runs afresh: two calls'
    collects run the same number of Spark jobs. A memo that handed back
    one DataFrame gave the second collect the first one's finalized
    adaptive plan and its shuffle output (3 jobs, then 1)."""
    from oraaud_kafka_spark import registry

    from .conftest import SF_DIR

    registry.load_all()
    fn = registry.QUERIES["q1_pricing_summary"]
    fn(spark, SF_DIR)
    fn(spark, SF_DIR)
    built = len(registry_builds)
    sc = spark.sparkContext
    jobs = []
    for i in range(2):
        group = f"memo-hit-{i}"
        sc.setJobGroup(group, group)
        try:
            fn(spark, SF_DIR).collect()
        finally:
            sc.setJobGroup(None, None)
        # the status store is fed from the listener bus asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert len(registry_builds) == built  # both calls were memo hits
    assert jobs[0] == jobs[1] > 1, jobs


def test_fimg_decode_round_trip_and_codec_gate():
    """decode_image inverts encode_fake_image exactly; foreign payloads
    (real codecs) raise the documented NotImplementedError."""
    import numpy as np
    import pytest

    from oraaud_kafka_spark.llm.multimodal import decode_image, encode_fake_image

    payload = encode_fake_image(7, 5, 4)
    arr = decode_image(payload)
    assert arr.shape == (4, 5, 3)
    assert arr.dtype == np.uint8
    assert int(arr.flat[0]) == (7 * 31) % 256
    assert int(arr.flat[59]) == (7 * 31 + 59 * 7) % 256
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n....")
