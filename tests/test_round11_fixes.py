"""Round-11 fixes and hardening, each pinned by a test that fails on
the round-10 code: segmented_running_max's partition+superbucket
combination resolves its shared-lineage join unambiguously and matches
the plain window.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oraaud_kafka_spark.operators.segmented import segmented_running_max


def test_segmented_running_max_partition_with_superbucket(spark):
    """The partition+superbucket combination (previously uncalled):
    must resolve the shared-lineage offsets join and equal the plain
    per-partition running-max window, including NULL partition keys
    and NULL values."""
    rows = []
    for g in ("a", "b", None):
        for i in range(40):
            # values dip and spike so offsets at both merge levels matter
            v = None if (g == "a" and i < 3) else (i * 7) % 23 + (i // 10)
            rows.append((g, i, v))
    df = spark.createDataFrame(rows, "grp string, seq int, v int")
    # bucket/superbucket are order-consistent segments of seq
    seg = df.withColumn("bkt", (F.col("seq") / 4).cast("int")).withColumn(
        "sbkt", (F.col("seq") / 16).cast("int")
    )
    got = (
        segmented_running_max(
            seg,
            value="v",
            order_cols=("seq",),
            bucket="bkt",
            partition=("grp",),
            superbucket="sbkt",
            out="rm",
        )
        .select("grp", "seq", "rm")
        .toPandas()
        .sort_values(["grp", "seq"], na_position="first")
        .reset_index(drop=True)
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = (
        df.select("grp", "seq", F.max("v").over(w).alias("rm"))
        .toPandas()
        .sort_values(["grp", "seq"], na_position="first")
        .reset_index(drop=True)
    )
    assert got.equals(want)
