"""Round-11 fixes and hardening, each pinned by a test that fails on
the round-10 code:

- z-order string keys must strip the column's longest common prefix
  before the 7-byte embedding (common-prefix columns like TPC-H c_name
  otherwise collapse into ONE bucket and the Morton key silently
  degenerates to the other column);
- segmented_running_max's partition+superbucket combination resolves
  its shared-lineage join unambiguously and matches the plain window.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from oraaud_kafka_spark.operators.segmented import segmented_running_max
from oraaud_kafka_spark.sources.tabular import zorder_write
from oraaud_kafka_spark.tables import load


def test_zorder_string_common_prefix_still_discriminates(spark, tmp_path):
    """A string column whose values share a long common prefix must
    still produce a diverse bucket domain. The second z-order column is
    CONSTANT, so the Morton key is driven by the string alone: files
    written by repartitionByRange must be (near-)disjoint in the string
    column. With the round-10 raw-7-byte key every 'Customer#…' value
    embedded identically, __z was constant, and per-file spans all
    covered the full range — this assertion fails there."""
    n = 2000
    df = spark.range(n).select(
        F.concat(F.lit("Customer#"), F.lpad(F.col("id"), 9, "0")).alias(
            "name"
        ),
        F.lit(1).cast("double").alias("flat"),
    )
    out = str(tmp_path / "zorder_prefix")
    zorder_write(df, out, ("name", "flat"), n_files=4)
    spans = []
    for f in sorted(os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        idx = md.schema.to_arrow_schema().get_field_index("name")
        st = md.row_group(0).column(idx).statistics
        spans.append((st.min, st.max))
    assert len(spans) >= 3
    spans.sort()
    # consecutive files may share at most a boundary bucket; they must
    # never cover each other — the constant-column layout is a sort on
    # the string buckets, so overlap means the buckets collapsed
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= hi2 and lo1 <= lo2
        # strict progress: each file ends before the next one ends AND
        # covers < half the global range
    glob_lo, glob_hi = spans[0][0], spans[-1][1]
    full = int(glob_hi[9:]) - int(glob_lo[9:])
    for lo, hi in spans:
        assert (int(hi[9:]) - int(lo[9:])) < full / 2


def test_zorder_c_name_buckets_diverse_on_customer(spark, tmp_path, sf_dir):
    """The fixture column the advice named: c_name ('Customer#…').
    With the second axis held constant the Morton key is c_name's
    bucket alone, so range-partitioned files must be disjoint in
    c_name — direct proof the post-LCP key gives the column a diverse
    bucket domain (the collapsed round-10 key put every name in bucket
    0 and every file spanned the full range)."""
    c = load(spark, sf_dir, "customer").select(
        "c_name", F.lit(1.0).alias("flat")
    )
    out = str(tmp_path / "zorder_cname")
    zorder_write(c, out, ("c_name", "flat"), n_files=4)
    nums = []
    for f in sorted(os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        idx = md.schema.to_arrow_schema().get_field_index("c_name")
        st = md.row_group(0).column(idx).statistics
        nums.append((int(st.min[9:]), int(st.max[9:])))
    assert len(nums) >= 3
    nums.sort()
    full = nums[-1][1] - nums[0][0]
    for (_, hi1), (lo2, _) in zip(nums, nums[1:]):
        assert lo2 >= hi1  # disjoint up to a shared boundary bucket
    for lo, hi in nums:
        assert (hi - lo) < full / 2


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
