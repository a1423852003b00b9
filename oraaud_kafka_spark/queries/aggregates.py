"""Aggregation operators (SURVEY.md §2.2): global/grouped, distinct,
rollup/cube/grouping-sets, pivot, stats (exact stddev via moment sums),
exact percentiles, collect_set, approx_count_distinct (rows-only).

Partial (map-side) aggregation is automatic for all of these; the decimal
casts ride inside the aggregate so scans stay columnar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import bounded_sort, load, materialize, register_views
from . import (
    DEC,
    DEC_MONEY,
    DEC_RATE,
    dsum,
    md5_mod,
    sql_davg,
    sql_dsum,
    sql_md5_mod,
    sql_to_dbl,
    to_dbl,
)

_GLOBAL_ORACLE = f"""
SELECT count(*) AS n_rows,
       count(DISTINCT l_orderkey) AS n_orders,
       {sql_dsum('l_quantity')} AS total_qty,
       min(l_shipdate) AS first_ship,
       max(l_shipdate) AS last_ship,
       {sql_davg('l_extendedprice')} AS avg_price
FROM lineitem
"""


@query("q_agg_global", oracle=_GLOBAL_ORACLE)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TWO-LEVEL distinct (round-15, guide §2.3 / verdict item 5):
    # mixing count_distinct with the plain aggregates in ONE agg plans
    # a two-phase aggregate KEYED ON the near-unique l_orderkey — every
    # decimal/min/max buffer rides the 600k-key shuffle before the
    # final 1-row reduce (PLANS.md has the split plan). Splitting into a
    # dedup-then-count leg (narrow: one long per row) plus a plain
    # stats leg (partial-aggregated to ONE row per map task) measured
    # 1.10 s -> 0.49 s at sf0.1. count("l_orderkey") over the distinct
    # frame (not count(*)) keeps NULL-orderkey semantics identical to
    # count(DISTINCT ...) — the q_agg_approx_count_distinct precedent.
    li = load(spark, sf_dir, "lineitem")
    base = li.agg(
        F.count("*").alias("n_rows"),
        to_dbl(F.sum(F.col("l_quantity").cast(DEC))).alias("total_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        (
            to_dbl(F.sum(F.col("l_extendedprice").cast(DEC)))
            / F.count("l_extendedprice")
        ).alias("avg_price"),
    )
    dist = (
        li.select("l_orderkey")
        .distinct()
        .agg(F.count("l_orderkey").alias("n_orders"))
    )
    return base.crossJoin(F.broadcast(dist)).select(
        "n_rows", "n_orders", "total_qty", "first_ship", "last_ship", "avg_price"
    )


_CD_ORACLE = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q_agg_count_distinct", oracle=_CD_ORACLE)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count_distinct(F.col("o_orderdate").cast("date")).alias("n_days"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


_ROLLUP_ORACLE = f"""
SELECT r_name, n_name,
       count(*) AS n_customers,
       {sql_dsum('c_acctbal')} AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
"""


@query("q_agg_rollup", oracle=_ROLLUP_ORACLE)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            to_dbl(F.sum(F.col("c_acctbal").cast(DEC))).alias("total_bal"),
        )
        # bounded report (region x nation rollup): no range exchange,
        # no bound-sampling re-run of the rollup aggregate
        .transform(
            lambda d: bounded_sort(
                d,
                F.col("r_name").asc_nulls_first(),
                F.col("n_name").asc_nulls_first(),
            )
        )
    )


_CUBE_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@query("q_agg_cube", oracle=_CUBE_ORACLE)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            to_dbl(F.sum(F.col("l_quantity").cast(DEC))).alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


_GSETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@query("q_agg_grouping_sets", oracle=_GSETS_ORACLE)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping_id(o_orderstatus, o_orderpriority) AS gid,
               count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


# Pivot: wide sums of quantity by return flag. Oracle = conditional
# aggregation with identical output column names.
_PIVOT_ORACLE = f"""
SELECT l_linestatus,
       {sql_dsum("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS qty_A,
       {sql_dsum("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS qty_N,
       {sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS qty_R
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@query("q_agg_pivot", oracle=_PIVOT_ORACLE)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(to_dbl(F.sum(F.col("l_quantity").cast(DEC))))
    )
    return pivoted.select(
        "l_linestatus",
        F.col("A").alias("qty_A"),
        F.col("N").alias("qty_N"),
        F.col("R").alias("qty_R"),
    ).orderBy("l_linestatus")


# Exact sample-stddev via moment sums: decimal sums are order-independent,
# the closed-form arithmetic is identical IEEE double on both sides.
_STATS_ORACLE = f"""
SELECT l_returnflag,
       count(*) AS n,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       sqrt((CAST(count(*) AS DOUBLE) * {sql_dsum('l_quantity * l_quantity')}
             - {sql_dsum('l_quantity')} * {sql_dsum('l_quantity')})
            / (CAST(count(*) AS DOUBLE) * (count(*) - 1))) AS stddev_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_agg_stats", oracle=_STATS_ORACLE)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    n = F.count("*").cast("double")
    s1 = to_dbl(F.sum(qty.cast(DEC)))
    s2 = to_dbl(F.sum((qty * qty).cast(DEC)))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.min(qty).alias("min_qty"),
            F.max(qty).alias("max_qty"),
            F.sqrt((n * s2 - s1 * s1) / (n * (F.count("*") - 1))).alias("stddev_qty"),
        )
        .orderBy("l_returnflag")
    )


_PCT_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.5) AS p50,
       quantile_cont(l_quantity, 0.75) AS p75
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_agg_percentile", oracle=_PCT_ORACLE)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
            F.percentile("l_quantity", F.lit(0.5)).alias("p50"),
            F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
        )
        .orderBy("l_returnflag")
    )


_COLLECT_ORACLE = """
SELECT r_name,
       array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


@query("q_agg_collect_set", oracle=_COLLECT_ORACLE)
def q_agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias("nations"))
        .orderBy("r_name")
    )


# Spark's HLL++ sketch value can't be reproduced by DuckDB's approx
# sketch, so the driver-hashable surface is the exact count plus a
# within-tolerance assertion on the sketch: |approx-exact| <= 10% of
# exact (rsd=0.02, so 10% is a 5-sigma envelope — a sketch outside it
# is a real bug, not noise). The oracle asserts the same shape with a
# literal TRUE; a broken sketch turns the boolean FALSE and the row
# hash-mismatches.
_APPROX_ORACLE = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS within_rel_error
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_agg_approx_count_distinct", oracle=_APPROX_ORACLE)
def q_agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # Dedup FIRST, then count + sketch the distinct pairs: mixing
    # count_distinct with approx_count_distinct in one aggregate plans
    # an Expand that duplicates every input row across two aggregation
    # paths (measured 2.6x slower), while the two-level form combines
    # the dedup map-side and is semantically identical — an HLL sketch
    # over a multiset IS the sketch over its support.
    pairs = li.select("l_returnflag", "l_orderkey").distinct()
    return (
        pairs.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
            # count(col), not count(*): count(DISTINCT x) ignores NULLs,
            # and the deduped frame keeps one (flag, NULL) row per group
            # — counting it would diverge from the oracle on a fixture
            # with NULL orderkeys while count(col) contributes 0 and the
            # group still survives
            F.count("l_orderkey").alias("exact_orders"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= 0.1 * F.col("exact_orders")
            ).alias("within_rel_error"),
        )
        .orderBy("l_returnflag")
    )


# Argmin/argmax aggregates: the row-value-at-extremum surface
# (min_by/max_by <-> DuckDB arg_min/arg_max).
_ARG_ORACLE = """
SELECT c_mktsegment,
       arg_min(c_name, c_acctbal) AS poorest,
       arg_max(c_name, c_acctbal) AS richest,
       min(c_acctbal) AS lo,
       max(c_acctbal) AS hi
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("q_agg_min_by_max_by", oracle=_ARG_ORACLE)
def q_agg_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.min_by("c_name", "c_acctbal").alias("poorest"),
            F.max_by("c_name", "c_acctbal").alias("richest"),
            F.min("c_acctbal").alias("lo"),
            F.max("c_acctbal").alias("hi"),
        )
        .orderBy("c_mktsegment")
    )


# Bivariate statistics via exact moments: corr and covariance are
# computed from five order-independent decimal sums (sx, sy, sxy, sxx,
# syy) with the closed-form arithmetic done in IEEE double identically
# on both engines — the same discipline as q_agg_stats, extended to two
# variables. Native corr()/covar_samp() stream doubles in partition
# order and would hash-mismatch; the moment formulation is also the
# shape that scales (one partial-aggregable pass, no second scan).
_CORR_ORACLE = f"""
SELECT l_returnflag,
       count(*) AS n,
       ({sql_dsum('l_quantity * l_discount')}
        - {sql_dsum('l_quantity')} * {sql_dsum('l_discount')}
          / CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE) AS covar_pop_qd,
       ({sql_dsum('l_quantity * l_discount')}
        - {sql_dsum('l_quantity')} * {sql_dsum('l_discount')}
          / CAST(count(*) AS DOUBLE)) / (count(*) - 1) AS covar_samp_qd,
       (CAST(count(*) AS DOUBLE) * {sql_dsum('l_quantity * l_discount')}
        - {sql_dsum('l_quantity')} * {sql_dsum('l_discount')})
       / (sqrt(CAST(count(*) AS DOUBLE) * {sql_dsum('l_quantity * l_quantity')}
               - {sql_dsum('l_quantity')} * {sql_dsum('l_quantity')})
          * sqrt(CAST(count(*) AS DOUBLE) * {sql_dsum('l_discount * l_discount')}
                 - {sql_dsum('l_discount')} * {sql_dsum('l_discount')})) AS corr_qd
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_agg_corr_covar", oracle=_CORR_ORACLE)
def q_agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_discount"
    )
    x = F.col("l_quantity")
    y = F.col("l_discount")
    n = F.count("*").cast("double")
    sx = to_dbl(F.sum(x.cast(DEC)))
    sy = to_dbl(F.sum(y.cast(DEC)))
    sxy = to_dbl(F.sum((x * y).cast(DEC)))
    sxx = to_dbl(F.sum((x * x).cast(DEC)))
    syy = to_dbl(F.sum((y * y).cast(DEC)))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            ((sxy - sx * sy / n) / n).alias("covar_pop_qd"),
            ((sxy - sx * sy / n) / (F.count("*") - 1)).alias("covar_samp_qd"),
            (
                (n * sxy - sx * sy)
                / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
            ).alias("corr_qd"),
        )
        .transform(lambda d: bounded_sort(d, "l_returnflag"))
    )


# Equi-width histogram: integer bucketing is exact (one IEEE division +
# floor, identical both sides), so the whole distribution profile is
# hash-checkable. The bucket id is computed in the grouping key — a
# single partial-aggregable pass, no windowing.
_HIST_ORACLE = f"""
SELECT CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
       count(*) AS n_items,
       {sql_dsum('l_quantity')} AS sum_qty,
       min(l_extendedprice) AS lo,
       max(l_extendedprice) AS hi
FROM lineitem
GROUP BY bucket
ORDER BY bucket
"""


@query("q_agg_histogram", oracle=_HIST_ORACLE)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 10000.0).cast("bigint")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .orderBy("bucket")
    )


# Boolean aggregates (every/some) + filtered aggregation (FILTER clause):
# flag semantics the audit-analytics layer uses constantly ("did every
# statement in the session succeed", "any failed login from this host").
_BOOL_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_orderstatus = 'F') AS any_finished,
       count(*) FILTER (WHERE o_totalprice > 150000) AS n_big
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q_agg_bool_logic", oracle=_BOOL_ORACLE)
def q_agg_bool_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.some(F.col("o_orderstatus") == "F").alias("any_finished"),
            F.count(F.when(F.col("o_totalprice") > 150000, 1)).alias("n_big"),
        )
        .orderBy("o_orderpriority")
    )


# Exact median (interpolated percentile 0.5) over an integer column:
# the midpoint of two int64s is exactly representable in double, so
# Spark's median() and DuckDB's median() agree bitwise. (Median over
# float columns is NOT hash-stable across engines — interpolation order
# differs — so the engine's contract is median-over-integers; for
# doubles use percentile_approx.) Exact median sorts within groups —
# at 100 TB prefer approx_percentile; this is the exact small-group path.
_MEDIAN_ORACLE = """
SELECT lang,
       count(*) AS n_docs,
       median(n_chars) AS med_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


@query("q_agg_median", oracle=_MEDIAN_ORACLE)
def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.median("n_chars").alias("med_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


# Weighted mean — sum(w*x)/sum(w) with both sums exact decimal, one
# IEEE division at the end: the form every revenue-per-unit /
# quality-weighted metric takes. Fully partial-aggregable: the shuffle
# carries two decimal partials per group.
_WAVG_ORACLE = f"""
SELECT l_returnflag,
       {sql_dsum('l_quantity')} AS total_qty,
       {sql_to_dbl('sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4)))')}
         / {sql_to_dbl('sum(CAST(l_quantity AS DECIMAL(18,4)))')} AS wavg_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_agg_weighted_avg", oracle=_WAVG_ORACLE)
def q_agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    wx = (F.col("l_extendedprice") * F.col("l_quantity")).cast(DEC)
    w = F.col("l_quantity").cast(DEC)
    return (
        li.groupBy("l_returnflag")
        .agg(
            dsum("l_quantity").alias("total_qty"),
            (to_dbl(F.sum(wx)) / to_dbl(F.sum(w))).alias("wavg_price"),
        )
        .orderBy("l_returnflag")
    )


# Share-of-total (ratio_to_report): each segment's revenue share.
# Deliberately NOT a window-over-empty-partition (sum() OVER () puts
# every row in one window partition — a single-task funnel at scale):
# aggregate per group, then broadcast the single-row total back. Both
# sums are exact decimal; the share is one IEEE division.
_SHARE_ORACLE = f"""
WITH per_seg AS (
  SELECT c_mktsegment, {sql_dsum('o_totalprice')} AS revenue
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment
),
tot AS (SELECT CAST(CAST(round(sum(CAST(revenue AS DECIMAL(18,4))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS total FROM per_seg)
SELECT c_mktsegment, revenue, revenue / total AS revenue_share
FROM per_seg CROSS JOIN tot
ORDER BY c_mktsegment
"""


@query("q_agg_share_of_total", oracle=_SHARE_ORACLE)
def q_agg_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    per_seg = (
        # no hint on customer (scale-growing); AQE broadcasts when small
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    tot = per_seg.groupBy().agg(
        to_dbl(F.sum(F.col("revenue").cast(DEC))).alias("total")
    )
    return (
        per_seg.crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            "revenue",
            (F.col("revenue") / F.col("total")).alias("revenue_share"),
        )
        .orderBy("c_mktsegment")
    )


# Approximate percentile certified against the exact answer — the same
# exact+tolerance driver surface as q_agg_approx_count_distinct. At
# 100 TB percentile_approx (a mergeable KLL/GK-style sketch with
# partial aggregation) is the only sane quantile plan: exact
# percentile_cont needs a full sort per group. Prices are cast to
# integer cents so the EXACT side is bit-identical across engines
# (interpolated midpoints are exact halves in double). The registered
# query certifies the sketch lands within 2% relative error.
_APPROX_PCT_ORACLE = """
SELECT l_returnflag,
       median(CAST(round(l_extendedprice * 100) AS BIGINT)) AS exact_p50_cents,
       TRUE AS within_rel_error
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_agg_approx_percentile", oracle=_APPROX_PCT_ORACLE)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact leg stays F.median (round-15 negative A/B on the verdict's
    # frequency-collapsed two-order-statistic form: extendedprice cents
    # are near-unique, so the collapse doesn't reduce and the window
    # over distinct values measures 1.49 s vs 1.11 s — same finding as
    # the r14 gini A/B; the collapsed form WAS proven
    # bit-identical to F.median at all three SFs before being rejected
    # on speed).
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).withColumn(
        "cents", F.round(F.col("l_extendedprice") * 100).cast("bigint")
    )
    # two aggregations joined on the 3-row group key, NOT one: mixing
    # the sort-based exact median with the percentile_approx sketch in
    # a single agg forces SortAggregate for both (the kll rollup's
    # split shape measured ~2x faster on identical inputs)
    exact = li.groupBy("l_returnflag").agg(
        F.median("cents").alias("exact_p50_cents")
    )
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("cents", 0.5, 10000).alias("approx_p50_cents")
    )
    return (
        exact.join(approx, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_p50_cents",
            (
                F.abs(F.col("approx_p50_cents") - F.col("exact_p50_cents"))
                <= 0.02 * F.abs(F.col("exact_p50_cents"))
            ).alias("within_rel_error"),
        )
        .orderBy("l_returnflag")
    )


# Mergeable-sketch rollup: Apache DataSketches HLL via
# hll_sketch_agg/hll_union_agg (Spark 3.5+). The scale story is the
# merge: per-(flag,status) sketches are built in ONE partial-agg'd pass,
# then the flag-level distinct count comes from unioning the tiny
# binary sketches — never rescanning the fact table. That is the
# pre-aggregated-rollup pattern a 100 TB deployment uses for
# distinct-count dashboards (store sketches per partition, union on
# read). Certified against the exact distinct within HLL's error bound.
_HLL_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS within_rel_error
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_agg_hll_union", oracle=_HLL_ORACLE)
def q_agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_cell = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey", 14).alias("sketch"),
    )
    return (
        per_cell.groupBy("l_returnflag")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_orders"),
        )
        .join(
            li.groupBy("l_returnflag").agg(
                F.count_distinct("l_orderkey").alias("exact_orders")
            ),
            "l_returnflag",
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("within_rel_error"),
        )
        .orderBy("l_returnflag")
    )


# Mergeable-QUANTILE rollup: the kll_sketch_agg/kll_merge_agg twin of
# q_agg_hll_union (Apache DataSketches KLL, Karnin-Lang-Liberty FOCS'16
# — the mergeable quantile summary t-digest competes with). Scale
# story identical to the HLL rollup: per-(flag,status) sketches built
# in ONE partial-agg'd pass over the fact table, then any coarser
# quantile (here flag-level p50) comes from MERGING the tiny binary
# sketches — never rescanning the data. That's how a 100 TB deployment
# serves latency/price-percentile dashboards: store one KLL sketch per
# partition, merge on read. k=800 bounds the one-sided rank error at
# ~0.4%; certified against the exact integer-cents median (the
# q_agg_median path) within 2% relative value error.
_KLL_ORACLE = """
SELECT l_returnflag,
       median(CAST(round(l_extendedprice * 100) AS BIGINT)) AS exact_p50_cents,
       TRUE AS within_rel_error
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_agg_kll_quantile_rollup", oracle=_KLL_ORACLE)
def q_agg_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    ).withColumn(
        "cents", F.round(F.col("l_extendedprice") * 100).cast("bigint")
    )
    per_cell = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.kll_sketch_agg_bigint("cents", F.lit(800)).alias("sketch")
    )
    merged = per_cell.groupBy("l_returnflag").agg(
        F.kll_sketch_get_quantile_bigint(
            F.kll_merge_agg_bigint("sketch"), F.lit(0.5)
        ).alias("approx_p50_cents")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.median("cents").alias("exact_p50_cents")
    )
    return (
        merged.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_p50_cents",
            (
                F.abs(F.col("approx_p50_cents") - F.col("exact_p50_cents"))
                <= 0.02 * F.abs(F.col("exact_p50_cents"))
            ).alias("within_rel_error"),
        )
        .orderBy("l_returnflag")
    )


# TPC-H Q14 shape: promo revenue share per ship month — conditional
# decimal-exact sums in ONE pass over the join, one IEEE division at
# the end. The part side is broadcast (dim table); no second scan for
# the denominator.
_PROMO_ORACLE = f"""
SELECT date_trunc('month', l_shipdate) AS ship_month,
       {sql_to_dbl("sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(14,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))) ELSE CAST(0 AS DECIMAL(21,8)) END)")}
         AS promo_revenue,
       {sql_to_dbl("sum(CAST(l_extendedprice AS DECIMAL(14,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))))")}
         AS total_revenue,
       {sql_to_dbl("sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(14,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))) ELSE CAST(0 AS DECIMAL(21,8)) END)")}
         / {sql_to_dbl("sum(CAST(l_extendedprice AS DECIMAL(14,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))))")}
         AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
ORDER BY 1
"""


@query("q_agg_promo_share", oracle=_PROMO_ORACLE)
def q_agg_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(DEC_MONEY) * (
        F.lit(1) - F.col("l_discount").cast(DEC_RATE)
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(21,8)")
    )
    out = (
        # no hint on part (scale-growing); AQE broadcasts when small
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            to_dbl(F.sum(promo)).alias("promo_revenue"),
            to_dbl(F.sum(rev)).alias("total_revenue"),
        )
    )
    return out.select(
        "ship_month",
        "promo_revenue",
        "total_revenue",
        (F.col("promo_revenue") / F.col("total_revenue")).alias("promo_share"),
    ).orderBy("ship_month")


# ---------------------------------------------------------------------------
# Exact-moment skewness / excess kurtosis. Spark's skewness()/kurtosis()
# and DuckDB's disagree on bias correction AND both fold doubles in
# partition order, so neither is hash-comparable. Instead: l_quantity is
# integral (1..50), so the four raw power sums are EXACT bigint
# aggregates (q^4 <= 6.25e6; even 6e9 rows at sf1000 keeps s4 < 4e16,
# far inside int64), and the central-moment algebra then runs once per
# GROUP on identical exact inputs — one fixed-shape IEEE expression both
# engines evaluate identically. One shuffle, map-side partial aggs,
# whole-stage codegen end to end; no window, no second pass.
# Degenerate guard: a constant group has m2 = 0 -> skew/kurtosis NULL
# (CASE WHEN m2 > 0), not a DIVIDE_BY_ZERO crash under ANSI mode.
# ---------------------------------------------------------------------------

_SKEW_KURT_ORACLE = """
WITH s AS (
  SELECT l_returnflag, l_linestatus,
         count(*) AS n,
         sum(CAST(l_quantity AS BIGINT)) AS s1,
         sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s2,
         sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
             * CAST(l_quantity AS BIGINT)) AS s3,
         sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
             * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s4
  FROM lineitem
  GROUP BY l_returnflag, l_linestatus
),
m AS (
  SELECT l_returnflag, l_linestatus, n,
         CAST(s1 AS DOUBLE) / n AS mean,
         CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3,
         CAST(s4 AS DOUBLE) / n AS r4
  FROM s
),
c AS (
  SELECT l_returnflag, l_linestatus, n, mean,
         r2 - mean * mean AS m2,
         r3 - 3 * mean * r2 + 2 * mean * mean * mean AS m3,
         r4 - 4 * mean * r3 + 6 * mean * mean * r2
            - 3 * mean * mean * mean * mean AS m4
  FROM m
)
SELECT l_returnflag, l_linestatus, n,
       round(mean, 6) AS mean_qty,
       round(m2, 6) AS var_pop,
       CASE WHEN m2 > 0 THEN round(m3 / pow(m2, 1.5), 6) END AS skewness,
       CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3, 6) END AS kurtosis_excess
FROM c
ORDER BY l_returnflag, l_linestatus
"""


@query("q_agg_skew_kurtosis", oracle=_SKEW_KURT_ORACLE)
def q_agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness + excess kurtosis of l_quantity per
    (returnflag, linestatus), from exact integer power sums.

    Reference parity: the reference engine ships no statistics surface at
    all (oraaud-kafka is ingest-only); this extends the §2.2 aggregate
    family with the distribution-shape moments every data-quality
    dashboard wants, in the only form that is both scale-safe (one
    shuffle, exact int64 partials) and engine-deterministic.
    """
    q = F.col("l_quantity").cast("bigint")
    s = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(q).alias("s1"),
            F.sum(q * q).alias("s2"),
            F.sum(q * q * q).alias("s3"),
            F.sum(q * q * q * q).alias("s4"),
        )
    )
    n = F.col("n")
    mean = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m = s.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        mean.alias("mean"),
        r2.alias("r2"),
        r3.alias("r3"),
        r4.alias("r4"),
    )
    mean, r2, r3, r4 = (F.col(c) for c in ("mean", "r2", "r3", "r4"))
    c = m.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        "mean",
        (r2 - mean * mean).alias("m2"),
        (r3 - F.lit(3) * mean * r2 + F.lit(2) * mean * mean * mean).alias("m3"),
        (
            r4
            - F.lit(4) * mean * r3
            + F.lit(6) * mean * mean * r2
            - F.lit(3) * mean * mean * mean * mean
        ).alias("m4"),
    )
    m2, m3, m4 = F.col("m2"), F.col("m3"), F.col("m4")
    return c.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.round("mean", 6).alias("mean_qty"),
        F.round(m2, 6).alias("var_pop"),
        F.when(m2 > 0, F.round(m3 / F.pow(m2, F.lit(1.5)), 6)).alias("skewness"),
        F.when(m2 > 0, F.round(m4 / (m2 * m2) - F.lit(3), 6)).alias(
            "kurtosis_excess"
        ),
    ).orderBy("l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# Deterministic per-group mode. Native mode()/F.mode break ties
# arbitrarily (and differently per engine), so the modal value is pinned
# by an explicit total order: highest count, then smallest key. Two
# exchanges total — the (segment, nation) count shuffle, then a window
# over DISTINCT (segment, nation) pairs only (bounded at |segments| x
# |nations|, never row cardinality — the 100 TB cost is the first
# aggregate alone).
# ---------------------------------------------------------------------------

_MODE_ORACLE = """
WITH counts AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS cnt
  FROM customer
  GROUP BY c_mktsegment, c_nationkey
),
ranked AS (
  SELECT c_mktsegment, c_nationkey, cnt,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY cnt DESC, c_nationkey) AS rn,
         CAST(sum(cnt) OVER (PARTITION BY c_mktsegment) AS BIGINT)
           AS seg_customers,
         count(*) OVER (PARTITION BY c_mktsegment) AS n_nations
  FROM counts
)
SELECT c_mktsegment, c_nationkey AS mode_nationkey, cnt AS mode_count,
       seg_customers, n_nations,
       round(CAST(cnt AS DOUBLE) / seg_customers, 6) AS mode_share
FROM ranked WHERE rn = 1
ORDER BY c_mktsegment
"""


@query("q_agg_mode_deterministic", oracle=_MODE_ORACLE)
def q_agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal nation per market segment with a pinned tie-break
    (count DESC, key ASC) — the deterministic twin of `mode()`."""
    from pyspark.sql import Window

    counts = (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("c_mktsegment")
    ranked = counts.select(
        "c_mktsegment",
        "c_nationkey",
        "cnt",
        F.row_number()
        .over(w.orderBy(F.col("cnt").desc(), F.col("c_nationkey")))
        .alias("rn"),
        F.sum("cnt").over(w).alias("seg_customers"),
        F.count("*").over(w).alias("n_nations"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").alias("mode_nationkey"),
            F.col("cnt").alias("mode_count"),
            "seg_customers",
            "n_nations",
            F.round(
                F.col("cnt").cast("double") / F.col("seg_customers"), 6
            ).alias("mode_share"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Exact Gini concentration coefficient, tie-aware, per order priority.
# The naive formulation ranks every ROW inside a group (a per-group
# global sort — one task per group at 100 TB). Instead rows collapse to
# (priority, integer-cent value) frequencies FIRST, so the window runs
# over the distinct value domain (bounded by the cent range, not row
# count) and the rank-sum contribution of a tied run is the closed form
# value * (c*f + f*(f+1)/2) with c = rows strictly below. All terms are
# exact integers; Spark folds them in DECIMAL(38,0), DuckDB in HUGEINT
# — two exact integer representations of the same number whose single
# final cast to double is correctly rounded in both engines. The bound
# n <= ~3e9 rows/group keeps c*f inside int64 (document, don't crash:
# beyond that the cents collapse would move to coarser buckets).
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH vals AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         count(*) AS f
  FROM orders
  GROUP BY o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT)
),
runs AS (
  SELECT o_orderpriority, cents, f,
         CAST(coalesce(sum(f) OVER (PARTITION BY o_orderpriority
                                    ORDER BY cents
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT) AS c
  FROM vals
),
g AS (
  SELECT o_orderpriority,
         CAST(sum(f) AS BIGINT) AS n,
         CAST(sum(CAST(cents AS HUGEINT) * f) AS DOUBLE) AS sx,
         CAST(sum(CAST(cents AS HUGEINT)
                  * (c * f + (f * (f + 1)) // 2)) AS DOUBLE) AS six
  FROM runs
  GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       round(sx / 100 / n, 6) AS mean_price,
       CASE WHEN sx <> 0
            THEN round(2 * six / (n * sx) - CAST(n + 1 AS DOUBLE) / n, 6)
       END AS gini
FROM g
ORDER BY o_orderpriority
"""


@query("q_agg_gini", oracle=_GINI_ORACLE)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware exact Gini coefficient of order value per priority —
    inequality profiling whose state is value-domain-bounded."""
    from pyspark.sql import Window

    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    vals = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", cents.alias("cents"))
        .agg(F.count("*").alias("f"))
    )
    wb = (
        Window.partitionBy("o_orderpriority")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = vals.select(
        "o_orderpriority",
        "cents",
        "f",
        F.coalesce(F.sum("f").over(wb), F.lit(0)).cast("bigint").alias("c"),
    )
    dec = "decimal(38,0)"
    g = runs.groupBy("o_orderpriority").agg(
        F.sum("f").cast("bigint").alias("n"),
        F.sum(F.col("cents").cast(dec) * F.col("f")).cast("double").alias("sx"),
        F.sum(
            F.col("cents").cast(dec)
            # f*(f+1) is even, so DIV keeps the rank-sum an exact integer
            # (plain / would be double division on both engines)
            * (F.col("c") * F.col("f") + F.expr("(f * (f + 1)) DIV 2"))
        )
        .cast("double")
        .alias("six"),
    )
    n, sx, six = F.col("n"), F.col("sx"), F.col("six")
    # ANSI guard: a group whose cent mass sums to zero (all-zero or
    # netting refunds) has no defined concentration — NULL, not
    # DIVIDE_BY_ZERO (adversarial-tpch sweep)
    return g.select(
        "o_orderpriority",
        "n",
        F.round(sx / 100 / n, 6).alias("mean_price"),
        F.when(
            sx != 0,
            F.round(
                F.lit(2) * six / (n * sx)
                - (n + F.lit(1)).cast("double") / n,
                6,
            ),
        ).alias("gini"),
        # bounded report (priority domain); the last exchange feeds only
        # the 5-group final aggregate, so coalesce(1) is safe
    ).transform(lambda d: bounded_sort(d, "o_orderpriority"))


# ---------------------------------------------------------------------------
# 10%-trimmed mean — the robust location estimate between the mean
# (outlier-hostage) and the median (discards 98% of the data). Same
# value-domain-bounded discipline as q_agg_gini: rows collapse to
# (priority, integer-cent value) frequencies, cumulative counts place
# each tied run against the trim cutoffs [k, n-k), and the kept slice
# of every run is the closed form min(c+f, n-k) - max(c, k) — exact
# integers end to end, one row-cardinality shuffle, window over
# DISTINCT values only. n <= 2k (tiny groups trim everything) yields
# NULL, not a division crash.
# ---------------------------------------------------------------------------

_TRIMMED_ORACLE = """
WITH vals AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         count(*) AS f
  FROM orders
  GROUP BY o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT)
),
runs AS (
  SELECT o_orderpriority, cents, f,
         CAST(coalesce(sum(f) OVER (PARTITION BY o_orderpriority
                                    ORDER BY cents
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT) AS c,
         CAST(sum(f) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
  FROM vals
),
kept AS (
  SELECT o_orderpriority, n, n // 10 AS k,
         greatest(least(c + f, n - n // 10) - greatest(c, n // 10), 0)
           AS take,
         cents
  FROM runs
),
g AS (
  SELECT o_orderpriority,
         CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k,
         CAST(sum(take) AS BIGINT) AS n_kept,
         CAST(sum(CAST(cents AS HUGEINT) * take) AS DOUBLE) AS s
  FROM kept GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, k, n_kept,
       CASE WHEN n_kept > 0
            THEN round(s / n_kept / 100, 6) END AS trimmed_mean
FROM g
ORDER BY o_orderpriority
"""


@query("q_agg_trimmed_mean", oracle=_TRIMMED_ORACLE)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed mean of order value per priority over the
    frequency-collapsed value domain."""
    from pyspark.sql import Window

    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    vals = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", cents.alias("cents"))
        .agg(F.count("*").alias("f"))
    )
    wp = Window.partitionBy("o_orderpriority")
    wb = wp.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    runs = vals.select(
        "o_orderpriority",
        "cents",
        "f",
        F.coalesce(F.sum("f").over(wb), F.lit(0)).cast("bigint").alias("c"),
        F.sum("f").over(wp).cast("bigint").alias("n"),
    )
    k = F.expr("n DIV 10")
    take = F.greatest(
        F.least(F.col("c") + F.col("f"), F.col("n") - k)
        - F.greatest(F.col("c"), k),
        F.lit(0),
    )
    kept = runs.select(
        "o_orderpriority",
        "n",
        k.alias("k"),
        take.alias("take"),
        "cents",
    )
    g = kept.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("k").cast("bigint").alias("k"),
        F.sum("take").cast("bigint").alias("n_kept"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("take"))
        .cast("double")
        .alias("s"),
    )
    return g.select(
        "o_orderpriority",
        "n",
        "k",
        "n_kept",
        F.when(
            F.col("n_kept") > 0,
            F.round(F.col("s") / F.col("n_kept") / 100, 6),
        ).alias("trimmed_mean"),
    ).transform(lambda d: bounded_sort(d, "o_orderpriority"))


# ---------------------------------------------------------------------------
# Exact 10% WINSORIZED mean — the clamp-don't-drop sibling of the
# trimmed mean above (Tukey; Huber, "Robust Statistics" §1): the k
# smallest values are replaced by the (k+1)-th order statistic and the
# k largest by the (n-k)-th, so outliers lose leverage but keep their
# row count (the robust location estimate a corpus-quality dashboard
# wants when row weights must be preserved). Decomposition over the
# frequency-collapsed value domain: winsorized_sum = (trimmed middle
# sum, same `take` formula as q_agg_trimmed_mean) + k*(lo_clamp +
# hi_clamp), where the clamps are nearest-rank picks — lo = smallest
# cent with cum_inclusive > k, hi = smallest cent with cum_inclusive
# >= n-k — computed as conditional MINs in the same single aggregate,
# no extra pass. All arithmetic is exact integer/decimal until ONE
# final division. Scale shape: identical to the trimmed mean — one
# partial-agg'd groupBy on the cent domain + one ordered window over
# DISTINCT values (never rows) + a per-group reduce.
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH vals AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         count(*) AS f
  FROM orders
  GROUP BY o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT)
),
runs AS (
  SELECT o_orderpriority, cents, f,
         CAST(coalesce(sum(f) OVER (PARTITION BY o_orderpriority
                                    ORDER BY cents
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT) AS c,
         CAST(sum(f) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
  FROM vals
),
kept AS (
  SELECT o_orderpriority, n, n // 10 AS k,
         greatest(least(c + f, n - n // 10) - greatest(c, n // 10), 0)
           AS take,
         CASE WHEN c + f > n // 10 THEN cents END AS lo_cand,
         CASE WHEN c + f >= n - n // 10 THEN cents END AS hi_cand,
         cents
  FROM runs
),
g AS (
  SELECT o_orderpriority,
         CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k,
         CAST(min(lo_cand) AS BIGINT) AS lo_cents,
         CAST(min(hi_cand) AS BIGINT) AS hi_cents,
         sum(CAST(cents AS HUGEINT) * take) AS s_mid
  FROM kept GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, k, lo_cents, hi_cents,
       round(CAST(s_mid + CAST(k AS HUGEINT) * (lo_cents + hi_cents)
                  AS DOUBLE) / n / 100, 6) AS winsorized_mean
FROM g
ORDER BY o_orderpriority
"""


@query("q_agg_winsorized_mean", oracle=_WINSOR_ORACLE)
def q_agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-winsorized mean of order value per priority: tails
    clamped to the k+1 / n-k order statistics over the
    frequency-collapsed value domain, all-integer until one division."""
    from pyspark.sql import Window

    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    vals = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", cents.alias("cents"))
        .agg(F.count("*").alias("f"))
    )
    wp = Window.partitionBy("o_orderpriority")
    wb = wp.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    runs = vals.select(
        "o_orderpriority",
        "cents",
        "f",
        F.coalesce(F.sum("f").over(wb), F.lit(0)).cast("bigint").alias("c"),
        F.sum("f").over(wp).cast("bigint").alias("n"),
    )
    k = F.expr("n DIV 10")
    take = F.greatest(
        F.least(F.col("c") + F.col("f"), F.col("n") - k)
        - F.greatest(F.col("c"), k),
        F.lit(0),
    )
    kept = runs.select(
        "o_orderpriority",
        "n",
        k.alias("k"),
        take.alias("take"),
        F.when(F.col("c") + F.col("f") > k, F.col("cents")).alias("lo_cand"),
        F.when(
            F.col("c") + F.col("f") >= F.col("n") - k, F.col("cents")
        ).alias("hi_cand"),
        "cents",
    )
    g = kept.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("k").cast("bigint").alias("k"),
        F.min("lo_cand").cast("bigint").alias("lo_cents"),
        F.min("hi_cand").cast("bigint").alias("hi_cents"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("take")).alias(
            "s_mid"
        ),
    )
    wing = F.col("k").cast("decimal(38,0)") * (
        F.col("lo_cents") + F.col("hi_cents")
    )
    return g.select(
        "o_orderpriority",
        "n",
        "k",
        "lo_cents",
        "hi_cents",
        F.round(
            (F.col("s_mid") + wing).cast("double") / F.col("n") / 100, 6
        ).alias("winsorized_mean"),
    ).transform(lambda d: bounded_sort(d, "o_orderpriority"))


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval — the distributed bootstrap
# (resampling n-out-of-n is impossible on a sharded table, so each row
# instead contributes to each resample with an independent Poisson(1)
# weight; Chamandy et al., "Estimating Uncertainty for Massive Data
# Streams", Google 2012). Everything is deterministic: the uniform for
# (row, b) is a 16-bit slice of the md5 of "orderkey:<b div 8>" —
# digest b//8, hex chars (b%8)*4+1..+4, so ONE digest seeds eight
# resamples and each row pays 4 md5 calls instead of 32 (round-14
# constant cut; 16 bits is ample resolution for a 6-bucket Poisson
# inverse-CDF, and both engines slice the identical digest). The
# inverse-CDF is a CASE over fixed cumulative literals, and each
# resample mean divides two exact int64 sums. The CI bounds are picked
# by explicit rank (2nd / 31st of B=32 sorted means — a ~94%
# interval), never by interpolated quantiles whose arithmetic could
# differ across engines. Scale shape: the B-fold explode is map-side;
# state is 2 integers per (resample) — one shuffle of B*groups
# partial sums.
# ---------------------------------------------------------------------------

_BOOT_B = 32
# cumulative Poisson(1) probabilities, identical literals both engines
_POIS = "0.3678794412 0.7357588823 0.9196986029 0.9810118431 0.9963401532"
_P0, _P1, _P2, _P3, _P4 = _POIS.split()

_BOOT_ORACLE = f"""
WITH rb AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         unnest(range({_BOOT_B})) AS b
  FROM orders
),
w AS (
  SELECT b, cents,
         (CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':'
                                     || CAST(b // 8 AS VARCHAR)),
                                 CAST((b % 8) * 4 + 1 AS INT), 4)
               AS BIGINT) + 1) / 65537.0 AS u
  FROM rb
),
ws AS (
  SELECT b, cents,
         CASE WHEN u < {_P0} THEN 0
              WHEN u < {_P1} THEN 1
              WHEN u < {_P2} THEN 2
              WHEN u < {_P3} THEN 3
              WHEN u < {_P4} THEN 4
              ELSE 5 END AS w
  FROM w
),
means AS (
  SELECT b,
         CAST(sum(CAST(w AS BIGINT) * cents) AS DOUBLE)
           / CAST(sum(CAST(w AS BIGINT)) AS DOUBLE) / 100 AS m
  FROM ws GROUP BY b HAVING sum(w) > 0
),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, b) AS rk,
         count(*) OVER () AS nb
  FROM means
),
full_mean AS (
  SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           / count(*) / 100 AS fm
  FROM orders
)
SELECT CAST(max(nb) AS BIGINT) AS n_resamples,
       round(max(fm), 6) AS mean_price,
       round(max(CASE WHEN rk = 2 THEN m END), 6) AS ci_lo,
       round(max(CASE WHEN rk = nb - 1 THEN m END), 6) AS ci_hi
FROM ranked CROSS JOIN full_mean
"""


@query("q_agg_bootstrap_ci", oracle=_BOOT_ORACLE)
def q_agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~94% Poisson-bootstrap CI for the mean order price, B=32
    deterministic resamples."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    ob = o.select("o_orderkey", "o_totalprice")

    # one digest seeds eight resamples, in TWO Generate stages so the
    # digests genuinely materialize once: subexpression elimination
    # does not reach inside a generator, so a single 32-element u
    # array would re-run md5 per element — instead stage 1 explodes
    # the 4 digests (4 md5 calls per row, each evaluated once) and
    # stage 2 slices the materialized digest column into its 8
    # 16-bit uniforms (cheap substr+conv; Generate is a projection
    # barrier, so CollapseProject cannot re-inline the md5)
    rb_g = ob.select(
        cents.alias("cents"),
        F.posexplode(
            F.array(*[
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("o_orderkey").cast("string"),
                        F.lit(str(g)),
                    )
                )
                for g in range(_BOOT_B // 8)
            ])
        ).alias("g", "dg"),
    )
    rb = rb_g.select(
        "cents",
        "g",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda j: (
                    F.conv(
                        F.col("dg").substr(j * 4 + 1, F.lit(4)), 16, 10
                    ).cast("double")
                    + F.lit(1)
                )
                / F.lit(65537.0),
            )
        ).alias("j", "u"),
    ).select(
        "cents", (F.col("g") * 8 + F.col("j")).alias("b"), "u"
    )
    u = F.col("u")
    w = (
        F.when(u < float(_P0), 0)
        .when(u < float(_P1), 1)
        .when(u < float(_P2), 2)
        .when(u < float(_P3), 3)
        .when(u < float(_P4), 4)
        .otherwise(5)
    )
    means = (
        rb.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w").cast("bigint") * F.col("cents")).cast(
                    "double"
                )
                / F.sum(F.col("w").cast("bigint")).cast("double")
                / F.lit(100)
            ).alias("m"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
    )
    ranked = means.select(
        "m",
        F.row_number().over(Window.orderBy("m", "b")).alias("rk"),
        F.count("*").over(
            Window.partitionBy()
        ).alias("nb"),
    )
    full_mean = F.broadcast(
        o.agg(
            (
                F.sum(cents).cast("double") / F.count("*") / F.lit(100)
            ).alias("fm")
        )
    )
    return ranked.crossJoin(full_mean).agg(
        F.max("nb").cast("bigint").alias("n_resamples"),
        F.round(F.max("fm"), 6).alias("mean_price"),
        F.round(F.max(F.when(F.col("rk") == 2, F.col("m"))), 6).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("rk") == F.col("nb") - 1, F.col("m"))), 6
        ).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit conformance — the classic audit-trail fraud
# screen (Nigrini 1996): natural transaction amounts follow
# P(d) = log10(1 + 1/d); fabricated ones usually don't. Thematically
# native here — the reference ships Oracle AUDIT data — and fully
# deterministic: the first significant digit comes from the STRING
# head of the exact integer cents (never floor(log10(x)) whose libm
# boundary behavior could split engines), observed counts are exact
# int64, the chi-square statistic and per-digit deviations are one
# fixed-shape double expression over the nine Benford literals. One
# partial-agg'd shuffle of at most 9 groups.
# ---------------------------------------------------------------------------

_BENFORD_P = {
    1: "0.3010299957", 2: "0.1760912591", 3: "0.1249387366",
    4: "0.0969100130", 5: "0.0791812460", 6: "0.0669467896",
    7: "0.0579919470", 8: "0.0511525224", 9: "0.0457574906",
}

_BENFORD_CASE = " ".join(
    f"WHEN d = {d} THEN {p}" for d, p in _BENFORD_P.items()
)

_BENFORD_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INTEGER) AS d
  FROM orders WHERE o_totalprice > 0
),
obs AS (
  SELECT d, count(*) AS n_d,
         CAST(sum(count(*)) OVER () AS BIGINT) AS n
  FROM digits GROUP BY d
),
e AS (
  SELECT d, n_d, n, CASE {_BENFORD_CASE} END AS p
  FROM obs
)
SELECT d, n_d,
       round(CAST(n_d AS DOUBLE) / n, 6) AS observed_freq,
       round(p, 6) AS benford_freq,
       round(CAST(n_d AS DOUBLE) / n - p, 6) AS deviation,
       round((CAST(n_d AS DOUBLE) - n * p) * (CAST(n_d AS DOUBLE) - n * p)
             / (n * p), 6) AS chi2_term
FROM e
ORDER BY d
"""


@query("q_agg_benford_digits", oracle=_BENFORD_ORACLE)
def q_agg_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order amounts vs
    Benford's law, with per-digit chi-square terms."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        1,
        1,
    ).cast("int")
    obs = (
        o.select(d.alias("d"))
        .groupBy("d")
        .agg(F.count("*").alias("n_d"))
        .withColumn(
            "n", F.sum("n_d").over(Window.partitionBy()).cast("bigint")
        )
    )
    p = F.when(F.col("d") == 1, float(_BENFORD_P[1]))
    for dig in range(2, 10):
        p = p.when(F.col("d") == dig, float(_BENFORD_P[dig]))
    e = obs.withColumn("p", p)
    nd, n, pp = F.col("n_d").cast("double"), F.col("n"), F.col("p")
    return e.select(
        "d",
        "n_d",
        F.round(nd / n, 6).alias("observed_freq"),
        F.round(pp, 6).alias("benford_freq"),
        F.round(nd / n - pp, 6).alias("deviation"),
        F.round((nd - n * pp) * (nd - n * pp) / (n * pp), 6).alias(
            "chi2_term"
        ),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov — the unbinned complement of
# q_quality_psi_drift: D = sup |F_a - F_b| between the URGENT and LOW
# order-price distributions, computed exactly on the frequency-
# collapsed integer-cent domain (the q_agg_gini discipline: cumulative
# counts per DISTINCT value, window state bounded by the cent range).
# Every CDF step divides exact int64 cumulative counts; the supremum
# and its location are picked by an explicit (diff DESC, cents ASC)
# order. The 95% rejection threshold 1.358*sqrt((na+nb)/(na*nb)) is a
# fixed-shape expression of the same exact counts.
# ---------------------------------------------------------------------------

_KS_A, _KS_B = "1-URGENT", "5-LOW"

_KS_ORACLE = f"""
WITH vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         sum(CASE WHEN o_orderpriority = '{_KS_A}' THEN 1 ELSE 0 END) AS fa,
         sum(CASE WHEN o_orderpriority = '{_KS_B}' THEN 1 ELSE 0 END) AS fb
  FROM orders WHERE o_orderpriority IN ('{_KS_A}', '{_KS_B}')
  GROUP BY CAST(round(o_totalprice * 100) AS BIGINT)
),
cum AS (
  SELECT cents,
         CAST(sum(fa) OVER w AS BIGINT) AS ca,
         CAST(sum(fb) OVER w AS BIGINT) AS cb,
         CAST(sum(fa) OVER () AS BIGINT) AS na,
         CAST(sum(fb) OVER () AS BIGINT) AS nb
  FROM vals
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
d AS (
  -- an empty arm makes the statistic undefined: emit zero rows, not
  -- DIVIDE_BY_ZERO (adversarial-tpch sweep)
  SELECT cents, na, nb,
         abs(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) AS diff
  FROM cum WHERE na > 0 AND nb > 0
),
top AS (
  SELECT cents, na, nb, diff,
         row_number() OVER (ORDER BY diff DESC, cents) AS rk
  FROM d
)
SELECT na, nb,
       round(diff, 6) AS ks_d,
       round(CAST(cents AS DOUBLE) / 100, 2) AS ks_at_price,
       round(1.358 * sqrt((CAST(na AS DOUBLE) + nb)
                          / (CAST(na AS DOUBLE) * nb)), 6) AS crit_95,
       diff > 1.358 * sqrt((CAST(na AS DOUBLE) + nb)
                           / (CAST(na AS DOUBLE) * nb)) AS reject_95
FROM top WHERE rk = 1
"""


@query("q_agg_ks_two_sample", oracle=_KS_ORACLE)
def q_agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between order-priority price
    distributions over the collapsed integer-cent domain."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(_KS_A, _KS_B)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    vals = o.groupBy(cents.alias("cents")).agg(
        F.sum(F.when(F.col("o_orderpriority") == _KS_A, 1).otherwise(0)).alias(
            "fa"
        ),
        F.sum(F.when(F.col("o_orderpriority") == _KS_B, 1).otherwise(0)).alias(
            "fb"
        ),
    )
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = vals.select(
        "cents",
        F.sum("fa").over(wc).cast("bigint").alias("ca"),
        F.sum("fb").over(wc).cast("bigint").alias("cb"),
        F.sum("fa").over(wt).cast("bigint").alias("na"),
        F.sum("fb").over(wt).cast("bigint").alias("nb"),
    ).filter((F.col("na") > 0) & (F.col("nb") > 0))
    # ^ ANSI guard: an empty arm -> zero output rows, not DIVIDE_BY_ZERO
    diff = F.abs(
        F.col("ca").cast("double") / F.col("na")
        - F.col("cb").cast("double") / F.col("nb")
    )
    top = cum.select(
        "cents",
        "na",
        "nb",
        diff.alias("diff"),
        F.row_number()
        .over(Window.orderBy(diff.desc(), F.col("cents")))
        .alias("rk"),
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("na").cast("double") + F.col("nb"))
        / (F.col("na").cast("double") * F.col("nb"))
    )
    return top.filter(F.col("rk") == 1).select(
        "na",
        "nb",
        F.round("diff", 6).alias("ks_d"),
        F.round(F.col("cents").cast("double") / 100, 2).alias("ks_at_price"),
        F.round(crit, 6).alias("crit_95"),
        (F.col("diff") > crit).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# Exact Spearman rank correlation between order value and basket size.
# Ranks are the textbook AVERAGE ranks under ties, but computed without
# ever ranking rows: collapse each variable to its value-frequency
# domain (the q_agg_gini discipline), get avg_rank(v) = c_v + (f_v+1)/2
# from cumulative counts, and join ranks back by value. Doubling the
# ranks (2c + f + 1) keeps every rank an exact INTEGER, so Spearman is
# Pearson over exact int64/decimal moment sums — no global row sort,
# no float rank arithmetic, bit-identical on both engines.
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
WITH base AS (
  SELECT o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS x,
         CAST(li.n_items AS BIGINT) AS y
  FROM orders o
  JOIN (SELECT l_orderkey, count(*) AS n_items
        FROM lineitem GROUP BY l_orderkey) li
    ON li.l_orderkey = o.o_orderkey
),
xr AS (
  SELECT x, 2 * CAST(coalesce(sum(f) OVER (ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) + f + 1 AS rx2
  FROM (SELECT x, count(*) AS f FROM base GROUP BY x)
),
yr AS (
  SELECT y, 2 * CAST(coalesce(sum(f) OVER (ORDER BY y
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) + f + 1 AS ry2
  FROM (SELECT y, count(*) AS f FROM base GROUP BY y)
),
r AS (
  SELECT rx2, ry2 FROM base JOIN xr USING (x) JOIN yr USING (y)
),
m AS (
  SELECT count(*) AS n,
         CAST(sum(rx2) AS DOUBLE) AS sx, CAST(sum(ry2) AS DOUBLE) AS sy,
         CAST(sum(CAST(rx2 AS HUGEINT) * rx2) AS DOUBLE) AS sxx,
         CAST(sum(CAST(ry2 AS HUGEINT) * ry2) AS DOUBLE) AS syy,
         CAST(sum(CAST(rx2 AS HUGEINT) * ry2) AS DOUBLE) AS sxy
  FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN round((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy)), 6)
       END AS spearman_rho
FROM m
"""


@query("q_agg_spearman", oracle=_SPEARMAN_ORACLE)
def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho between order value and item count, tie-aware
    average ranks from cumulative value frequencies."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_items"))
    )
    # base feeds THREE subtrees (the x-rank grouping, the y-rank
    # grouping, and the final join) — without materialization the
    # orders⋈per-order-counts join executes three times per run.
    # localCheckpoint truncates the plan once (guide §3.3); recomputed
    # from parquet on every invocation. Checkpointed frame: O(orders)
    # rows x two bigints (narrow). Round-15 honest A/B (full recompute
    # per rep): keep 0.74 s vs revert 0.87 s — KEPT.
    base = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
            F.col("n_items").cast("bigint").alias("y"),
        )
        .transform(materialize)
    )

    def ranks(col: str, alias: str):
        w = (
            Window.orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            base.groupBy(col)
            .agg(F.count("*").alias("f"))
            .select(
                col,
                (
                    F.lit(2)
                    * F.coalesce(F.sum("f").over(w), F.lit(0)).cast("bigint")
                    + F.col("f")
                    + F.lit(1)
                ).alias(alias),
            )
        )

    r = base.join(ranks("x", "rx2"), "x").join(ranks("y", "ry2"), "y")
    dec = "decimal(38,0)"
    m = r.agg(
        F.count("*").alias("n"),
        F.sum("rx2").cast("double").alias("sx"),
        F.sum("ry2").cast("double").alias("sy"),
        F.sum(F.col("rx2").cast(dec) * F.col("rx2")).cast("double").alias("sxx"),
        F.sum(F.col("ry2").cast(dec) * F.col("ry2")).cast("double").alias("syy"),
        F.sum(F.col("rx2").cast(dec) * F.col("ry2")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        n.cast("bigint").alias("n"),
        F.when(
            (n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0),
            F.round(
                (n * sxy - sx * sy)
                / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
                6,
            ),
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test + Cramér's V: is market segment
# independent of nation? Contingency cells are exact int64 counts; each
# (o-e)²/e term involves a division, so terms round to 12 dp and sum
# as exact DECIMAL (the KL discipline — the cell count is bounded by
# |segments|·|nations|, so the rounded-term error is bounded too).
# Cramér's V = sqrt(chi2 / (n·min(r-1, c-1))) normalizes to [0,1].
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH cells AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat, count(*) AS o
  FROM customer GROUP BY c_mktsegment, c_nationkey
),
margins AS (
  SELECT seg, nat, o,
         CAST(sum(o) OVER (PARTITION BY seg) AS BIGINT) AS row_t,
         CAST(sum(o) OVER (PARTITION BY nat) AS BIGINT) AS col_t,
         CAST(sum(o) OVER () AS BIGINT) AS n
  FROM cells
),
terms AS (
  SELECT n,
         CAST(round(
           (CAST(o AS DOUBLE) - CAST(row_t AS DOUBLE) * col_t / n)
           * (CAST(o AS DOUBLE) - CAST(row_t AS DOUBLE) * col_t / n)
           / (CAST(row_t AS DOUBLE) * col_t / n), 12) AS DECIMAL(24,12))
           AS term,
         seg, nat
  FROM margins
),
dims AS (
  SELECT count(DISTINCT seg) AS r, count(DISTINCT nat) AS c FROM cells
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST((SELECT r FROM dims) AS BIGINT) AS n_rows,
       CAST((SELECT c FROM dims) AS BIGINT) AS n_cols,
       round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
       round(sqrt(CAST(sum(term) AS DOUBLE)
                  / (max(n) * (least((SELECT r FROM dims),
                                     (SELECT c FROM dims)) - 1))), 6)
         AS cramers_v
FROM terms
"""


@query("q_agg_chi2_independence", oracle=_CHI2_ORACLE)
def q_agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of segment x nation independence with Cramér's V."""
    from pyspark.sql import Window

    cells = (
        load(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").alias("nat"),
        )
        .agg(F.count("*").alias("o"))
    )
    margins = cells.select(
        "seg",
        "nat",
        "o",
        F.sum("o").over(Window.partitionBy("seg")).cast("bigint").alias("row_t"),
        F.sum("o").over(Window.partitionBy("nat")).cast("bigint").alias("col_t"),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    e = F.col("row_t").cast("double") * F.col("col_t") / F.col("n")
    term = F.round(
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e,
        12,
    ).cast("decimal(24,12)")
    terms = margins.select("seg", "nat", "n", term.alias("term"))
    dims = F.broadcast(
        cells.agg(
            F.count_distinct("seg").alias("r"),
            F.count_distinct("nat").alias("c"),
        )
    )
    agg = terms.crossJoin(dims).agg(
        F.max("n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.max("r").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("n_cols"),
        F.sum("term").cast("double").alias("chi2_raw"),
        F.max(
            F.least(F.col("r"), F.col("c")).cast("bigint")
        ).alias("mindim"),
    )
    return agg.select(
        "n",
        "n_cells",
        "n_rows",
        "n_cols",
        F.round("chi2_raw", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_raw") / (F.col("n") * (F.col("mindim") - F.lit(1)))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) — completes the nonparametric
# triple (KS: distribution shape; chi-square: categorical
# independence; MWU: location shift). Same machinery as q_agg_spearman:
# tie-aware average ranks of the COMBINED sample from cumulative value
# frequencies, doubled to exact integers; U = R_a - n_a(n_a+1)/2 with
# the normal approximation z using the standard tie-corrected variance.
# The tie-correction sum Σ(f³-f) is exact int64; the z expression is
# one fixed double shape. Everything is value-domain-bounded state.
# ---------------------------------------------------------------------------

_MWU_A, _MWU_B = "1-URGENT", "5-LOW"

_MWU_ORACLE = f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CAST(o_orderpriority = '{_MWU_A}' AS INTEGER) AS is_a
  FROM orders WHERE o_orderpriority IN ('{_MWU_A}', '{_MWU_B}')
),
vals AS (
  SELECT v, count(*) AS f,
         CAST(sum(is_a) AS BIGINT) AS fa
  FROM base GROUP BY v
),
ranked AS (
  SELECT v, f, fa,
         2 * CAST(coalesce(sum(f) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + f + 1 AS r2
  FROM vals
),
m AS (
  SELECT CAST(sum(fa) AS BIGINT) AS na,
         CAST(sum(f - fa) AS BIGINT) AS nb,
         CAST(sum(CAST(fa AS HUGEINT) * r2) AS DOUBLE) / 2 AS ra,
         CAST(sum(CAST(f AS HUGEINT) * f * f - f) AS DOUBLE) AS ties
  FROM ranked
),
sig AS (
  -- empty arm or a single combined row leaves the ties term or the
  -- variance undefined: NULL z, not DIVIDE_BY_ZERO
  SELECT na, nb, ra,
         CASE WHEN na + nb > 1
              THEN CAST(na AS DOUBLE) * nb / 12
                   * ((na + nb + 1)
                      - ties / (CAST(na + nb AS DOUBLE) * (na + nb - 1)))
         END AS sig2
  FROM m
)
SELECT na, nb,
       round(ra - CAST(na AS DOUBLE) * (na + 1) / 2, 6) AS u_a,
       CASE WHEN sig2 > 0
            THEN round((ra - CAST(na AS DOUBLE) * (na + 1) / 2
                        - CAST(na AS DOUBLE) * nb / 2) / sqrt(sig2), 6)
       END AS z
FROM sig
"""


@query("q_agg_mann_whitney_u", oracle=_MWU_ORACLE)
def q_agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U + z between two priority classes,
    from exact integer combined ranks."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(_MWU_A, _MWU_B)
    )
    base = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        (F.col("o_orderpriority") == _MWU_A).cast("int").alias("is_a"),
    )
    vals = base.groupBy("v").agg(
        F.count("*").alias("f"), F.sum("is_a").cast("bigint").alias("fa")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "v",
        "f",
        "fa",
        (
            F.lit(2) * F.coalesce(F.sum("f").over(w), F.lit(0)).cast("bigint")
            + F.col("f")
            + F.lit(1)
        ).alias("r2"),
    )
    dec = "decimal(38,0)"
    m = ranked.agg(
        F.sum("fa").cast("bigint").alias("na"),
        F.sum(F.col("f") - F.col("fa")).cast("bigint").alias("nb"),
        (F.sum(F.col("fa").cast(dec) * F.col("r2")).cast("double") / F.lit(2)).alias(
            "ra"
        ),
        F.sum(F.col("f").cast(dec) * F.col("f") * F.col("f") - F.col("f"))
        .cast("double")
        .alias("ties"),
    )
    na, nb, ra, ties = (F.col(c) for c in ("na", "nb", "ra", "ties"))
    u_a = ra - na.cast("double") * (na + F.lit(1)) / F.lit(2)
    # ANSI guards (adversarial-tpch sweep): an empty arm or a single
    # combined row leaves the ties term or the variance undefined —
    # NULL z (U is still well-defined), never DIVIDE_BY_ZERO. sig2 > 0
    # also covers the all-values-tied case, where the tie correction
    # drives the variance to exactly zero.
    sig = m.select(
        "na",
        "nb",
        "ra",
        F.when(
            (na + nb) > 1,
            na.cast("double") * nb / F.lit(12)
            * (
                (na + nb + F.lit(1))
                - ties / ((na + nb).cast("double") * (na + nb - F.lit(1)))
            ),
        ).alias("sig2"),
    )
    sig2 = F.col("sig2")
    return sig.select(
        "na",
        "nb",
        F.round(u_a, 6).alias("u_a"),
        F.when(
            sig2 > 0,
            F.round(
                (u_a - na.cast("double") * nb / F.lit(2)) / F.sqrt(sig2), 6
            ),
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Simple OLS per group, closed form from EXACT power sums: slope,
# intercept, and R² of extendedprice (in HUNDREDS of dollars — the y²
# power sum of raw 6-figure prices would outgrow the DECIMAL(18,4)
# exact-narrowing window; /100 keeps y an EXACT 4-dp decimal (2dp x
# 1/100), so no per-row half-boundary rounding can split the engines —
# /1000 produced 5-dp values whose systematic .XXXX5 halves DID split
# them; y² is 8-dp but provably >= 8e-8 from any 4-dp half boundary
# since no square is ≡ 5000 mod 10^4) on quantity come
# out of the same five decimal-exact sums q_agg_corr_covar uses (n,
# Σx, Σy, Σxy, Σx², Σy²) — ONE partial-agg'd shuffle, no second
# residual pass (SSE is a closed form of the sums for simple
# regression). All divisions happen in IEEE double on identical
# operands; slope inside intercept is the UNROUNDED expression on both
# engines. Per-row products are double (identical IEEE both sides) and
# cast to DECIMAL(18,4) for the order-independent sum — the
# established corr/covar discipline. At 100 TB this is a scan + one
# 2-group aggregate: nothing else.
# ---------------------------------------------------------------------------

_OLS_Y = "(l_extendedprice / CAST(100 AS DOUBLE))"

_OLS_ORACLE = f"""
WITH s AS (
  SELECT l_linestatus,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) AS DOUBLE) AS nd,
         {sql_dsum('l_quantity')} AS sx,
         {sql_dsum(_OLS_Y)} AS sy,
         {sql_dsum(f'l_quantity * {_OLS_Y}')} AS sxy,
         {sql_dsum('l_quantity * l_quantity')} AS sxx,
         {sql_dsum(f'{_OLS_Y} * {_OLS_Y}')} AS syy
  FROM lineitem GROUP BY l_linestatus
)
SELECT l_linestatus, n,
       -- constant x (zero x-variance) leaves the fit undefined: NULL,
       -- not DIVIDE_BY_ZERO; r2 additionally needs y-variance
       CASE WHEN nd * sxx - sx * sx <> 0
            THEN round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6)
       END AS slope,
       CASE WHEN nd * sxx - sx * sx <> 0
            THEN round((sy - ((nd * sxy - sx * sy)
                              / (nd * sxx - sx * sx)) * sx) / nd, 6)
       END AS intercept,
       CASE WHEN (nd * sxx - sx * sx) * (nd * syy - sy * sy) <> 0
            THEN round(((nd * sxy - sx * sy) * (nd * sxy - sx * sy))
                       / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6)
       END AS r2
FROM s
ORDER BY l_linestatus
"""


@query("q_agg_ols_regression", oracle=_OLS_ORACLE)
def q_agg_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Projection first keeps the partial aggregation's exchange to the
    # 3 needed columns (guide §2.3).
    li = load(spark, sf_dir, "lineitem").select(
        "l_linestatus", "l_quantity", "l_extendedprice"
    )
    x = F.col("l_quantity")
    y = F.col("l_extendedprice") / F.lit(100).cast("double")
    s = li.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.count("*").cast("double").alias("nd"),
        to_dbl(F.sum(x.cast(DEC))).alias("sx"),
        to_dbl(F.sum(y.cast(DEC))).alias("sy"),
        to_dbl(F.sum((x * y).cast(DEC))).alias("sxy"),
        to_dbl(F.sum((x * x).cast(DEC))).alias("sxx"),
        to_dbl(F.sum((y * y).cast(DEC))).alias("syy"),
    )
    nd, sx, sy, sxy, sxx, syy = (
        F.col(c) for c in ("nd", "sx", "sy", "sxy", "sxx", "syy")
    )
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    # ANSI guards (adversarial-tpch sweep): constant x -> no defined
    # fit; flat y additionally undefines r2 — NULL, not DIVIDE_BY_ZERO
    return s.select(
        "l_linestatus",
        "n",
        F.when(vx != 0, F.round(slope, 6)).alias("slope"),
        F.when(vx != 0, F.round((sy - slope * sx) / nd, 6)).alias(
            "intercept"
        ),
        F.when(
            vx * vy != 0,
            F.round(
                ((nd * sxy - sx * sy) * (nd * sxy - sx * sy)) / (vx * vy),
                6,
            ),
        ).alias("r2"),
    ).transform(lambda d: bounded_sort(d, "l_linestatus"))


# ---------------------------------------------------------------------------
# Theil T inequality index per order priority (the decomposable
# complement of q_agg_gini): T_g = (1/n_g) Σ (x/μ_g) ln(x/μ_g). The
# group mean is the davg pattern (exact decimal sum, one IEEE
# division); each row's term rides the established ln-determinism
# discipline (round(ln-term, 12) → DECIMAL(20,12) → exact
# order-independent sum → one double division, 6-dp final round).
# Scale: one aggregate for the means + one row-cardinality shuffle for
# the term sums — the means table is bounded by the priority domain and
# joins back without a hint (AQE broadcasts it). o_totalprice > 0 by
# construction; a zero/negative guard still excludes rows identically
# on both engines rather than NaN-poisoning the sum.
# ---------------------------------------------------------------------------

_THEIL_ORACLE = f"""
WITH m AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         {sql_davg('o_totalprice')} AS mu
  FROM orders WHERE o_totalprice > 0 GROUP BY o_orderpriority
),
t AS (
  SELECT o.o_orderpriority,
         CAST(round((o.o_totalprice / m.mu) * ln(o.o_totalprice / m.mu), 12)
              AS DECIMAL(20,12)) AS term
  FROM orders o JOIN m USING (o_orderpriority)
  WHERE o.o_totalprice > 0
)
SELECT m.o_orderpriority, m.n, round(m.mu, 6) AS mean_price,
       round(CAST(sum(t.term) AS DOUBLE) / m.n, 6) AS theil_t
FROM t JOIN m USING (o_orderpriority)
GROUP BY m.o_orderpriority, m.n, m.mu
ORDER BY m.o_orderpriority
"""


@query("q_agg_theil_index", oracle=_THEIL_ORACLE)
def q_agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    m = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        (
            to_dbl(F.sum(F.col("o_totalprice").cast(DEC)))
            / F.count("o_totalprice")
        ).alias("mu"),
    )
    ratio = F.col("o_totalprice") / F.col("mu")
    terms = o.join(m, "o_orderpriority").select(
        "o_orderpriority",
        "n",
        "mu",
        F.round(ratio * F.log(ratio), 12).cast("decimal(20,12)").alias("term"),
    )
    return (
        terms.groupBy("o_orderpriority", "n", "mu")
        .agg(F.sum("term").alias("s"))
        .select(
            "o_orderpriority",
            "n",
            F.round("mu", 6).alias("mean_price"),
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias(
                "theil_t"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Exact ROC-AUC of a score against a binary label, via the rank-sum
# identity AUC = U_A / (n_pos * n_neg) (Hanley & McNeil 1982): the
# probability a random positive outscores a random negative, ties at
# half credit — exactly the Mann-Whitney U machinery above, reused on
# the collapsed integer-cent score domain. Everything up to ONE final
# division is exact integer arithmetic: per-value midranks come from a
# cumulative count over DISTINCT cents (2*midrank = 2*cum_prev + f + 1
# stays integral), 2*U_A = sum(fa * r2) - n_pos*(n_pos+1) is an exact
# DECIMAL(38,0), and auc = 2U / (2*n_pos*n_neg) happens once in IEEE
# double on both engines. gini = 2*auc - 1 is the standard rescale.
# Scale shape: one groupBy on the bounded cent domain + one ordered
# window over DISTINCT values (never rows) + a 1-row reduce — the
# documented rank-statistic discipline (see q_agg_mann_whitney_u).
# This is the quality-classifier eval a training-data pipeline runs on
# every scored corpus snapshot.
# ---------------------------------------------------------------------------

_AUC_POS = ("1-URGENT", "2-HIGH")

_AUC_ORACLE = f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CAST(o_orderpriority IN ('{_AUC_POS[0]}', '{_AUC_POS[1]}')
              AS INTEGER) AS is_pos
  FROM orders
),
vals AS (
  SELECT v, count(*) AS f, CAST(sum(is_pos) AS BIGINT) AS fa
  FROM base GROUP BY v
),
ranked AS (
  SELECT f, fa,
         2 * CAST(coalesce(sum(f) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + f + 1 AS r2
  FROM vals
),
m AS (
  SELECT CAST(sum(fa) AS BIGINT) AS n_pos,
         CAST(sum(f - fa) AS BIGINT) AS n_neg,
         CAST(sum(CAST(fa AS HUGEINT) * r2)
              - CAST(sum(fa) AS HUGEINT)
                * (CAST(sum(fa) AS HUGEINT) + 1) AS DOUBLE) AS u2
  FROM ranked
)
SELECT n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round(u2 / (2 * CAST(n_pos AS DOUBLE) * n_neg), 6)
       END AS auc,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round(u2 / (CAST(n_pos AS DOUBLE) * n_neg) - 1, 6)
       END AS gini_rank
FROM m
"""


@query("q_eval_auc_roc", oracle=_AUC_ORACLE)
def q_eval_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does order price predict priority class? Exact tie-aware ROC-AUC
    (+ rank Gini) from integer midranks over distinct cents."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        F.col("o_orderpriority").isin(*_AUC_POS).cast("int").alias("is_pos"),
    )
    vals = base.groupBy("v").agg(
        F.count("*").alias("f"), F.sum("is_pos").cast("bigint").alias("fa")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "f",
        "fa",
        (
            F.lit(2) * F.coalesce(F.sum("f").over(w), F.lit(0)).cast("bigint")
            + F.col("f")
            + F.lit(1)
        ).alias("r2"),
    )
    dec = "decimal(38,0)"
    m = ranked.agg(
        F.sum("fa").cast("bigint").alias("n_pos"),
        F.sum(F.col("f") - F.col("fa")).cast("bigint").alias("n_neg"),
        (
            F.sum(F.col("fa").cast(dec) * F.col("r2"))
            - F.sum("fa").cast(dec) * (F.sum("fa").cast(dec) + F.lit(1))
        )
        .cast("double")
        .alias("u2"),
    )
    n_pos, n_neg, u2 = (F.col(c) for c in ("n_pos", "n_neg", "u2"))
    # ANSI guard (adversarial-tpch sweep): a single-class label column
    # has no ranking to score — NULL, not DIVIDE_BY_ZERO
    both = (n_pos > 0) & (n_neg > 0)
    return m.select(
        "n_pos",
        "n_neg",
        F.when(
            both,
            F.round(u2 / (F.lit(2) * n_pos.cast("double") * n_neg), 6),
        ).alias("auc"),
        F.when(
            both,
            F.round(u2 / (n_pos.cast("double") * n_neg) - F.lit(1), 6),
        ).alias("gini_rank"),
    )


# ---------------------------------------------------------------------------
# Calibration / reliability table for a probabilistic prediction: bin
# the predicted probability, and per bin report count, event count,
# empirical event rate, |gap|, and the bin's EXACT Brier-score
# contribution. The prediction here is the discount-derived
# p = pb/10 with pb = round(discount*100) in {0..10} — an exact
# 1-dp probability, so the per-bin Brier sum
#   sum((p - y)^2) = (n*pb^2 - 20*pb*events + 100*events) / 100
# is an exact INTEGER over 100: emitted as brier_sum_x100 BIGINT, no
# float summation anywhere. The only IEEE ops are the per-bin
# event-rate and gap divisions (identical operands both engines,
# 6-dp round). ECE/total-Brier are one driver-side fold over the ≤11
# rows. Scale: ONE partial-agg'd groupBy on an 11-value domain — scan
# speed at any corpus size. The LLM-pipeline use: reliability-check a
# quality classifier's scores before thresholding a 100 TB corpus on
# them (an uncalibrated gate silently shifts the kept-data mix).
# ---------------------------------------------------------------------------

_CALIB_ORACLE = """
WITH base AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS pb,
         CAST(l_returnflag = 'R' AS INTEGER) AS y
  FROM lineitem
)
SELECT pb,
       round(CAST(pb AS DOUBLE) / 10, 6) AS p_pred,
       count(*) AS n,
       CAST(sum(y) AS BIGINT) AS events,
       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS event_rate,
       round(abs(CAST(pb AS DOUBLE) / 10
                 - CAST(sum(y) AS DOUBLE) / count(*)), 6) AS abs_gap,
       CAST(count(*) * pb * pb - 20 * pb * sum(y) + 100 * sum(y)
            AS BIGINT) AS brier_sum_x100
FROM base
GROUP BY pb
ORDER BY pb
"""


@query("q_eval_calibration_bins", oracle=_CALIB_ORACLE)
def q_eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table: 1-dp probability bins vs empirical event rate,
    with exact integer-scaled per-bin Brier contributions."""
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("pb"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    pb = F.col("pb")
    g = base.groupBy("pb").agg(
        F.count("*").alias("n"), F.sum("y").cast("bigint").alias("events")
    )
    rate = F.col("events").cast("double") / F.col("n")
    return (
        g.select(
            "pb",
            F.round(pb.cast("double") / F.lit(10), 6).alias("p_pred"),
            "n",
            "events",
            F.round(rate, 6).alias("event_rate"),
            F.round(
                F.abs(pb.cast("double") / F.lit(10) - rate), 6
            ).alias("abs_gap"),
            (
                F.col("n") * pb * pb
                - F.lit(20) * pb * F.col("events")
                + F.lit(100) * F.col("events")
            )
            .cast("bigint")
            .alias("brier_sum_x100"),
        )
        .orderBy("pb")
    )


# ---------------------------------------------------------------------------
# Confusion matrix + summary metrics at a fixed decision threshold —
# the third leg of the eval kit: AUC ranks (threshold-free),
# calibration checks the probabilities, this op scores the actual
# DECISION a gate makes at p >= 0.5. Counts tp/fp/fn/tn are exact
# int64 from ONE conditional-sum scan (the q_quality_constraints
# compile-to-one-pass discipline); precision/recall/accuracy are one
# IEEE division each on identical operands, F1 uses the single-division
# form 2tp/(2tp+fp+fn) (no compounded rounding), and empty denominators
# yield NULL on both engines via the same guard. Map-only + 1-row
# reduce: scan speed at any corpus size.
# ---------------------------------------------------------------------------

_CONF_ORACLE = """
WITH base AS (
  SELECT CAST(round(l_discount * 100) >= 5 AS INTEGER) AS pred,
         CAST(l_returnflag = 'R' AS INTEGER) AS y
  FROM lineitem
),
m AS (
  SELECT CAST(sum(pred * y) AS BIGINT) AS tp,
         CAST(sum(pred * (1 - y)) AS BIGINT) AS fp,
         CAST(sum((1 - pred) * y) AS BIGINT) AS fn,
         CAST(sum((1 - pred) * (1 - y)) AS BIGINT) AS tn
  FROM base
)
SELECT tp, fp, fn, tn,
       CASE WHEN tp + fp = 0 THEN NULL
            ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision_,
       CASE WHEN tp + fn = 0 THEN NULL
            ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall_,
       CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
            ELSE round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6)
       END AS f1,
       round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy
FROM m
"""


@query("q_eval_confusion_threshold", oracle=_CONF_ORACLE)
def q_eval_confusion_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact confusion counts and precision/recall/F1/accuracy for the
    p >= 0.5 decision rule on the discount-derived probability."""
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        (F.round(F.col("l_discount") * 100) >= 5).cast("int").alias("pred"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    p, y = F.col("pred"), F.col("y")
    m = base.agg(
        F.sum(p * y).cast("bigint").alias("tp"),
        F.sum(p * (F.lit(1) - y)).cast("bigint").alias("fp"),
        F.sum((F.lit(1) - p) * y).cast("bigint").alias("fn"),
        F.sum((F.lit(1) - p) * (F.lit(1) - y)).cast("bigint").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))

    def _ratio(num, den):
        return F.when(den == 0, F.lit(None).cast("double")).otherwise(
            F.round(num.cast("double") / den, 6)
        )

    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        _ratio(tp, tp + fp).alias("precision_"),
        _ratio(tp, tp + fn).alias("recall_"),
        _ratio(F.lit(2) * tp, F.lit(2) * tp + fp + fn).alias("f1"),
        F.round((tp + tn).cast("double") / (tp + fp + fn + tn), 6).alias(
            "accuracy"
        ),
    )


# ---------------------------------------------------------------------------
# Exact average precision (area under the precision-recall curve, step
# form) — the fourth leg of the eval kit, and the one that matters for
# IMBALANCED gates: ROC-AUC stays optimistic when positives are rare
# (a 0.1%-positive corpus filter can post 0.95 ROC-AUC while drowning
# in false positives), while AP weighs precision exactly where
# decisions happen. Definition is the threshold-sweep step sum
# (sklearn's average_precision_score): over distinct score values v
# descending, AP = Σ (ΔTP_v / n_pos) · (TP_v / PP_v) with inclusive
# cumulative counts — a pure function of the (value, label) frequency
# table, so ties need no ordering convention at all (contrast the
# rank-midrank machinery ROC needs). Float discipline: each term
# ΔTP·(TP/PP) rounds to 12 dp into DECIMAL(20,12) so the sum is
# order-free; the ONE division by n_pos happens in IEEE double on
# identical operands. Scale shape: one partial-agg'd groupBy on the
# integer-cent domain + one ordered window over DISTINCT values (never
# rows) + a 1-row reduce — the established rank-statistic discipline.
# ---------------------------------------------------------------------------

_PR_AUC_ORACLE = f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CAST(o_orderpriority IN ('{_AUC_POS[0]}', '{_AUC_POS[1]}')
              AS INTEGER) AS is_pos
  FROM orders
),
vals AS (
  SELECT v, count(*) AS f, CAST(sum(is_pos) AS BIGINT) AS fa
  FROM base GROUP BY v
),
runs AS (
  SELECT f, fa,
         CAST(sum(f) OVER (ORDER BY v DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS pp,
         CAST(sum(fa) OVER (ORDER BY v DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS tp
  FROM vals
),
terms AS (
  SELECT f, fa,
         CAST(round(fa * (CAST(tp AS DOUBLE) / pp), 12)
              AS DECIMAL(20,12)) AS term
  FROM runs
),
m AS (
  SELECT CAST(sum(fa) AS BIGINT) AS n_pos,
         CAST(sum(f - fa) AS BIGINT) AS n_neg,
         CAST(count(*) AS BIGINT) AS n_thresholds,
         sum(term) AS s
  FROM terms
)
SELECT n_pos, n_neg, n_thresholds,
       CASE WHEN n_pos > 0
            THEN round(CAST(s AS DOUBLE) / n_pos, 6) END
         AS average_precision,
       CASE WHEN n_pos + n_neg > 0
            THEN round(CAST(n_pos AS DOUBLE) / (n_pos + n_neg), 6) END
         AS prevalence
FROM m
"""


@query("q_eval_pr_auc", oracle=_PR_AUC_ORACLE)
def q_eval_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (step-form PR-AUC) of order price
    against priority class over the distinct-cent threshold sweep,
    with the random-classifier prevalence baseline alongside."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        F.col("o_orderpriority").isin(*_AUC_POS).cast("int").alias("is_pos"),
    )
    vals = base.groupBy("v").agg(
        F.count("*").alias("f"), F.sum("is_pos").cast("bigint").alias("fa")
    )
    w = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    runs = vals.select(
        "f",
        "fa",
        F.sum("f").over(w).cast("bigint").alias("pp"),
        F.sum("fa").over(w).cast("bigint").alias("tp"),
    )
    terms = runs.select(
        "f",
        "fa",
        F.round(
            F.col("fa") * (F.col("tp").cast("double") / F.col("pp")), 12
        )
        .cast("decimal(20,12)")
        .alias("term"),
    )
    m = terms.agg(
        F.sum("fa").cast("bigint").alias("n_pos"),
        F.sum(F.col("f") - F.col("fa")).cast("bigint").alias("n_neg"),
        F.count("*").cast("bigint").alias("n_thresholds"),
        F.sum("term").alias("s"),
    )
    n_pos, n_neg = F.col("n_pos"), F.col("n_neg")
    # ANSI guards: a corpus with no positives (or an empty table) must
    # report NULL, not raise DIVIDE_BY_ZERO (round-6 hazard class)
    return m.select(
        "n_pos",
        "n_neg",
        "n_thresholds",
        F.when(
            n_pos > 0, F.round(F.col("s").cast("double") / n_pos, 6)
        ).alias("average_precision"),
        F.when(
            (n_pos + n_neg) > 0,
            F.round(n_pos.cast("double") / (n_pos + n_neg), 6),
        ).alias("prevalence"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index — how dominated is each
# nation's order revenue by its biggest customers? The corpus-curation
# reading: the same statistic flags a training mix dominated by a few
# sources (HHI near 1 = concentrated, near 1/n = uniform). Stage 1 is
# the 100 TB pass: ONE partial-agg'd groupBy collapsing orders to
# per-(nation, customer) revenue cents (int64 — per-account sums fit
# comfortably). Nation totals re-aggregate the collapsed frame as
# exact DECIMAL(38,0) and broadcast back (25-row nation domain, see
# tests/test_broadcast_hints.py). Share terms follow the KL/chi2
# float discipline: each (rev/total)^2 rounds to 12 dp into
# DECIMAL(24,12) so the per-nation sum is order-free; top_share and
# the /100 denominations are one IEEE division each on identical
# operands. ANSI guard: a zero-revenue nation yields NULL shares,
# not DIVIDE_BY_ZERO.
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH per_account AS (
  SELECT c.c_nationkey, o.o_custkey,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_nationkey, o.o_custkey
),
totals AS (
  SELECT c_nationkey,
         CAST(count(*) AS BIGINT) AS n_accounts,
         CAST(sum(CAST(rev AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS total,
         CAST(max(rev) AS BIGINT) AS max_rev
  FROM per_account GROUP BY c_nationkey
),
terms AS (
  SELECT p.c_nationkey,
         CAST(round(
           (CAST(p.rev AS DOUBLE) / CAST(t.total AS DOUBLE))
           * (CAST(p.rev AS DOUBLE) / CAST(t.total AS DOUBLE)), 12)
           AS DECIMAL(24,12)) AS term
  FROM per_account p JOIN totals t USING (c_nationkey)
  WHERE t.total <> 0
)
SELECT t.c_nationkey, t.n_accounts,
       round(CAST(t.total AS DOUBLE) / 100, 6) AS total_dollars,
       CASE WHEN t.total <> 0
            THEN round(CAST(t.max_rev AS DOUBLE)
                       / CAST(t.total AS DOUBLE), 6) END AS top_share,
       CASE WHEN t.total <> 0
            THEN round(CAST((SELECT sum(term) FROM terms x
                             WHERE x.c_nationkey = t.c_nationkey)
                            AS DOUBLE), 6) END AS hhi
FROM totals t
ORDER BY t.c_nationkey
"""


@query("q_agg_hhi_concentration", oracle=_HHI_ORACLE)
def q_agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue HHI: sum over customers of squared revenue
    share, plus account count, total and largest single share."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per_account = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(cents).cast("bigint").alias("rev"))
    )
    totals = per_account.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_accounts"),
        F.sum(F.col("rev").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("total"),
        F.max("rev").cast("bigint").alias("max_rev"),
    )
    share = F.col("rev").cast("double") / F.col("total").cast("double")
    terms = (
        per_account.join(F.broadcast(totals), "c_nationkey")
        .filter(F.col("total") != 0)
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.round(share * share, 12).cast("decimal(24,12)")).alias(
                "hhi_raw"
            )
        )
    )
    out = totals.join(F.broadcast(terms), "c_nationkey", "left")
    return out.select(
        "c_nationkey",
        "n_accounts",
        F.round(F.col("total").cast("double") / 100, 6).alias("total_dollars"),
        F.when(
            F.col("total") != 0,
            F.round(
                F.col("max_rev").cast("double") / F.col("total").cast("double"),
                6,
            ),
        ).alias("top_share"),
        F.when(
            F.col("total") != 0,
            F.round(F.col("hhi_raw").cast("double"), 6),
        ).alias("hhi"),
    ).orderBy("c_nationkey")


# ---------------------------------------------------------------------------
# Cohen's kappa — chance-corrected agreement between two raters, the
# eval-kit leg for LABEL QUALITY (two annotation pipelines, a model vs
# a heuristic gate, two dedup policies): accuracy alone overstates
# agreement when classes are imbalanced; kappa subtracts the agreement
# two independent raters with these margins would reach by luck.
# Raters here are deterministic fixture stand-ins (the AB-test
# precedent): A = order value >= $150k, B = order has >= 4 line items
# (positively correlated, so kappa lands meaningfully above 0). All
# four cells are exact int64 from ONE conditional-sum reduce over the
# joined frame; po/pe/kappa are fixed-shape IEEE expressions over
# those identical integers (margin products cast to double BEFORE
# multiplying — n_a1*n_b1 overflows int64 at 100 TB row counts).
# Guards: empty input and pe = 1 (both raters constant) yield NULL.
# ---------------------------------------------------------------------------

_KAPPA_ORACLE = """
WITH base AS (
  SELECT CAST(round(o.o_totalprice * 100) >= 15000000 AS INTEGER) AS a,
         CAST(li.n_items >= 4 AS INTEGER) AS b
  FROM orders o
  JOIN (SELECT l_orderkey, count(*) AS n_items
        FROM lineitem GROUP BY l_orderkey) li
    ON li.l_orderkey = o.o_orderkey
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a * b) AS BIGINT) AS n11,
         CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
         CAST(sum((1 - a) * b) AS BIGINT) AS n01,
         CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM base
),
r AS (
  SELECT n, n11, n10, n01, n00,
         CAST(n11 + n00 AS DOUBLE) / n AS po,
         (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
          + CAST(n00 + n01 AS DOUBLE) * (n00 + n10))
           / (CAST(n AS DOUBLE) * n) AS pe
  FROM m WHERE n > 0
)
SELECT n, n11, n10, n01, n00,
       round(po, 6) AS po,
       round(pe, 6) AS pe,
       CASE WHEN pe <> 1.0
            THEN round((po - pe) / (1.0 - pe), 6) END AS kappa
FROM r
"""


@query("q_eval_cohens_kappa", oracle=_KAPPA_ORACLE)
def q_eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement between the value>=150k and
    >=4-line-items raters: exact 2x2 cells, po/pe/kappa."""
    o = load(spark, sf_dir, "orders")
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_items"))
    )
    base = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        (F.round(F.col("o_totalprice") * 100) >= 15000000)
        .cast("int")
        .alias("a"),
        (F.col("n_items") >= 4).cast("int").alias("b"),
    )
    a, b = F.col("a"), F.col("b")
    m = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(a * b).cast("bigint").alias("n11"),
        F.sum(a * (F.lit(1) - b)).cast("bigint").alias("n10"),
        F.sum((F.lit(1) - a) * b).cast("bigint").alias("n01"),
        F.sum((F.lit(1) - a) * (F.lit(1) - b)).cast("bigint").alias("n00"),
    ).filter(F.col("n") > 0)
    n = F.col("n")
    n11, n10, n01, n00 = (F.col(c) for c in ("n11", "n10", "n01", "n00"))
    po = (n11 + n00).cast("double") / n
    pe = (
        (n11 + n10).cast("double") * (n11 + n01)
        + (n00 + n01).cast("double") * (n00 + n10)
    ) / (n.cast("double") * n)
    r = m.select("n", "n11", "n10", "n01", "n00", po.alias("po_raw"), pe.alias("pe_raw"))
    return r.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round("po_raw", 6).alias("po"),
        F.round("pe_raw", 6).alias("pe"),
        F.when(
            F.col("pe_raw") != 1.0,
            F.round(
                (F.col("po_raw") - F.col("pe_raw")) / (F.lit(1.0) - F.col("pe_raw")),
                6,
            ),
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Mutual information between two categorical columns (segment x
# nation) — the feature-relevance companion to q_agg_chi2_independence
# (chi2 answers "is there dependence", MI answers "how many nats does
# knowing one buy about the other"), with entropies and normalized MI
# so the number is comparable across column pairs. Identical scale
# shape to chi2: ONE partial-agg'd groupBy collapses the scan onto the
# bounded segment x nation cell domain (<= 5 x 25 rows); margins are
# windows over that collapsed frame; entropies re-aggregate the tiny
# cell frame (no second scan). Float discipline: each p*ln(...) term
# rounds to 12 dp into DECIMAL(24,12) (order-free sums, cell count
# bounds the rounding error); probabilities are CAST(x AS DOUBLE)/n on
# identical int64 operands both engines. NMI guards zero entropy.
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH cells AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat, count(*) AS o
  FROM customer GROUP BY c_mktsegment, c_nationkey
),
margins AS (
  SELECT seg, nat, o,
         CAST(sum(o) OVER (PARTITION BY seg) AS BIGINT) AS row_t,
         CAST(sum(o) OVER (PARTITION BY nat) AS BIGINT) AS col_t,
         CAST(sum(o) OVER () AS BIGINT) AS n
  FROM cells
),
mi AS (
  SELECT max(n) AS n, count(*) AS n_cells,
         sum(CAST(round(
           (CAST(o AS DOUBLE) / n)
           * ln((CAST(o AS DOUBLE) / n)
                / ((CAST(row_t AS DOUBLE) / n)
                   * (CAST(col_t AS DOUBLE) / n))), 12)
           AS DECIMAL(24,12))) AS mi_raw
  FROM margins
),
hx AS (
  SELECT sum(CAST(round(
           -(CAST(t AS DOUBLE) / n) * ln(CAST(t AS DOUBLE) / n), 12)
           AS DECIMAL(24,12))) AS h
  FROM (SELECT seg, sum(o) AS t, (SELECT sum(o) FROM cells) AS n
        FROM cells GROUP BY seg)
),
hy AS (
  SELECT sum(CAST(round(
           -(CAST(t AS DOUBLE) / n) * ln(CAST(t AS DOUBLE) / n), 12)
           AS DECIMAL(24,12))) AS h
  FROM (SELECT nat, sum(o) AS t, (SELECT sum(o) FROM cells) AS n
        FROM cells GROUP BY nat)
)
SELECT CAST(mi.n AS BIGINT) AS n,
       CAST(mi.n_cells AS BIGINT) AS n_cells,
       round(CAST(mi.mi_raw AS DOUBLE), 6) AS mi_nats,
       round(CAST(hx.h AS DOUBLE), 6) AS h_seg,
       round(CAST(hy.h AS DOUBLE), 6) AS h_nat,
       CASE WHEN CAST(hx.h AS DOUBLE) * CAST(hy.h AS DOUBLE) > 0
            THEN round(CAST(mi.mi_raw AS DOUBLE)
                       / sqrt(CAST(hx.h AS DOUBLE) * CAST(hy.h AS DOUBLE)), 6)
       END AS nmi
FROM mi, hx, hy
"""


@query("q_agg_mutual_information", oracle=_MI_ORACLE)
def q_agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI(segment; nation) in nats with marginal entropies and
    sqrt-normalized MI, exact 12-dp decimal term sums."""
    from pyspark.sql import Window

    cells = (
        load(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").alias("nat"),
        )
        .agg(F.count("*").alias("o"))
    )
    margins = cells.select(
        "o",
        F.sum("o").over(Window.partitionBy("seg")).cast("bigint").alias("row_t"),
        F.sum("o").over(Window.partitionBy("nat")).cast("bigint").alias("col_t"),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    p = F.col("o").cast("double") / F.col("n")
    px = F.col("row_t").cast("double") / F.col("n")
    py = F.col("col_t").cast("double") / F.col("n")
    term = F.round(p * F.log(p / (px * py)), 12).cast("decimal(24,12)")
    mi = margins.agg(
        F.max("n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum(term.alias("t")).alias("mi_raw"),
    )

    def _entropy(keycol: str):
        tot = cells.agg(F.sum("o").alias("n"))
        g = cells.groupBy(keycol).agg(F.sum("o").alias("t"))
        pk = F.col("t").cast("double") / F.col("n")
        return (
            g.crossJoin(F.broadcast(tot))
            .agg(
                F.sum(
                    F.round(-pk * F.log(pk), 12).cast("decimal(24,12)")
                ).alias("h")
            )
        )

    hx = _entropy("seg").withColumnRenamed("h", "hx_raw")
    hy = _entropy("nat").withColumnRenamed("h", "hy_raw")
    out = mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    hxd = F.col("hx_raw").cast("double")
    hyd = F.col("hy_raw").cast("double")
    return out.select(
        "n",
        "n_cells",
        F.round(F.col("mi_raw").cast("double"), 6).alias("mi_nats"),
        F.round(hxd, 6).alias("h_seg"),
        F.round(hyd, 6).alias("h_nat"),
        F.when(
            hxd * hyd > 0,
            F.round(F.col("mi_raw").cast("double") / F.sqrt(hxd * hyd), 6),
        ).alias("nmi"),
    )


# ---------------------------------------------------------------------------
# Theta-sketch audience overlap: the distinct-count SET-ALGEBRA rollup
# (DataSketches Theta — union/intersection on compact binary sketches).
# The 100 TB story: ONE partial-agg'd scan builds a sketch per segment;
# every pairwise overlap question (|A∩B|, |A∪B| for all segment pairs —
# the audience-overlap dashboard) is then answered on the tiny sketch
# table with zero further fact-table reads. HLL can only union; Theta's
# intersection is what makes overlap computable without a quadratic
# distinct self-join at scale. Certified against the exact pairwise
# intersection from the bounded (user, type) distinct table.
# ---------------------------------------------------------------------------

_THETA_OVERLAP_ORACLE = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events WHERE user_id IS NOT NULL
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS exact_inter
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
tot AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1)
-- within_rel_error is constant TRUE here because lg_k=12 Theta sketches
-- stay in EXACT mode below 2^12 retained keys and the fixture's per-type
-- distinct-user cardinality sits under that at every SF — pinned by
-- tests/test_round12_invariants.py::test_theta_stays_in_exact_mode, so a
-- fixture growth that would start estimating fails the suite before it
-- can hash-mismatch the driver gate
SELECT p.type_a, p.type_b,
       CAST(p.exact_inter AS BIGINT) AS exact_inter,
       CAST(ta.n + tb.n - p.exact_inter AS BIGINT) AS exact_union,
       TRUE AS within_rel_error
FROM pairs p
JOIN tot ta ON ta.event_type = p.type_a
JOIN tot tb ON tb.event_type = p.type_b
ORDER BY type_a, type_b
"""


@query("q_agg_theta_audience_overlap", oracle=_THETA_OVERLAP_ORACLE)
def q_agg_theta_audience_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sk = e.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    # |types| x |types| cross join over the 5-row sketch table — the
    # pair space is bounded by the segment domain, never by users
    est = (
        a.crossJoin(b)
        .filter(F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.theta_sketch_estimate(
                F.theta_intersection("sk_a", "sk_b")
            ).alias("est_inter"),
            F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b")).alias(
                "est_union"
            ),
        )
    )
    ut = e.select("user_id", "event_type").distinct()
    ua = ut.select("user_id", F.col("event_type").alias("type_a"))
    ub = ut.select("user_id", F.col("event_type").alias("type_b"))
    exact_inter = (
        ua.join(ub, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("exact_inter"))
    )
    tot = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    ta = tot.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    exact = exact_inter.join(ta, "type_a").join(tb, "type_b").select(
        "type_a",
        "type_b",
        "exact_inter",
        (F.col("n_a") + F.col("n_b") - F.col("exact_inter")).alias(
            "exact_union"
        ),
    )
    return (
        exact.join(est, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.col("exact_inter").cast("long").alias("exact_inter"),
            F.col("exact_union").cast("long").alias("exact_union"),
            (
                (
                    F.abs(F.col("est_inter") - F.col("exact_inter"))
                    <= 0.05 * F.col("exact_inter")
                )
                & (
                    F.abs(F.col("est_union") - F.col("exact_union"))
                    <= 0.05 * F.col("exact_union")
                )
            ).alias("within_rel_error"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Count-Min-Sketch heavy-hitter frequency certification (registered
# round 14) — the point-FREQUENCY member of the mergeable-sketch family
# (HLL = distinct count, KLL = quantiles, Theta = set algebra, CMS =
# per-key counts): a d x w counter grid where cell (i, hash_i(k) % w)
# accumulates every occurrence of k, and est(k) = min_i over the d
# cells — never an underestimate, over by at most (e/w)*N w.h.p.
# (Cormode & Muthukrishnan 2005). Built manually from the repo's
# deterministic md5 hash discipline (queries.md5_mod) so both engines
# run the identical grid. The 100 TB story is double: (1) ONE
# partial-agg'd pass collapses any fact volume to d*w = 2048 cells,
# after which every frequency question costs a broadcast lookup, never
# a rescan; (2) the sketch is MERGEABLE by cell-wise addition — this
# query builds per-priority sketches, merges them, and certifies
# merged == directly-built (the q_time_rollup_merge algebra) plus
# est >= exact with slack within the e/w bound via integer
# cross-multiplication (no float decides).
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 512
_CMS_TOP = 10
# eps = e/w: (est - exact) * w * 1e6 <= 2718282 * N, all-integer
_CMS_E_NUM = 2_718_282
_CMS_E_DEN = 1_000_000


def _cms_bucket_sql(i: int, key: str) -> str:
    return sql_md5_mod(str(i), key, _CMS_W)


def _cms_bucket(i: int, key):
    return md5_mod(str(i), key, _CMS_W)


_CMS_ORACLE = f"""
WITH hashed AS (
  {" UNION ALL ".join(
      f"SELECT o_custkey, o_orderpriority, {i} AS depth, "
      f"{_cms_bucket_sql(i, 'o_custkey')} AS bucket FROM orders"
      for i in range(_CMS_D)
  )}
),
sk_direct AS (SELECT depth, bucket, count(*) AS c FROM hashed GROUP BY 1, 2),
sk_prio AS (
  SELECT o_orderpriority, depth, bucket, count(*) AS c
  FROM hashed GROUP BY 1, 2, 3
),
sk_merged AS (
  SELECT depth, bucket, CAST(sum(c) AS BIGINT) AS c
  FROM sk_prio GROUP BY 1, 2
),
cert AS (
  SELECT count(*) FILTER (WHERE coalesce(d.c, -1) != coalesce(m.c, -1))
           AS n_diff
  FROM sk_direct d FULL JOIN sk_merged m
    ON d.depth = m.depth AND d.bucket = m.bucket
),
exact AS (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS big_n FROM orders),
topk AS (
  SELECT k, n, rank FROM (
    SELECT k, n, row_number() OVER (ORDER BY n DESC, k) AS rank FROM exact
  ) WHERE rank <= {_CMS_TOP}
),
probes AS (
  {" UNION ALL ".join(
      f"SELECT rank, k, n, {i} AS depth, {_cms_bucket_sql(i, 'k')} AS bucket "
      f"FROM topk"
      for i in range(_CMS_D)
  )}
),
est AS (
  SELECT p.rank, p.k, p.n, min(s.c) AS est
  FROM probes p JOIN sk_merged s
    ON s.depth = p.depth AND s.bucket = p.bucket
  GROUP BY 1, 2, 3
)
SELECT CAST(rank AS BIGINT) AS rank, CAST(k AS BIGINT) AS cust_key,
       CAST(n AS BIGINT) AS exact_n, CAST(est AS BIGINT) AS est_n,
       CAST(est - n AS BIGINT) AS overestimate,
       (SELECT n_diff FROM cert) = 0 AS merged_equals_direct,
       (est - n) * {_CMS_W} * {_CMS_E_DEN} <= {_CMS_E_NUM} * big_n
         AS within_eps
FROM est CROSS JOIN tot
ORDER BY rank
"""


@query("q_agg_cms_heavy_hitters", oracle=_CMS_ORACLE)
def q_agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    hashed = o.select(
        "o_custkey",
        "o_orderpriority",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("depth"),
                    _cms_bucket(i, F.col("o_custkey")).alias("bucket"),
                )
                for i in range(_CMS_D)
            ])
        ).alias("db"),
    ).select("o_custkey", "o_orderpriority", "db.depth", "db.bucket")
    sk_direct = hashed.groupBy("depth", "bucket").agg(
        F.count("*").alias("c")
    )
    sk_merged = (
        hashed.groupBy("o_orderpriority", "depth", "bucket")
        .agg(F.count("*").alias("c"))
        .groupBy("depth", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    cert = (
        sk_direct.withColumnRenamed("c", "cd")
        .join(
            sk_merged.withColumnRenamed("c", "cm"),
            ["depth", "bucket"],
            "full",
        )
        .agg(
            F.sum(
                F.when(
                    F.coalesce("cd", F.lit(-1))
                    != F.coalesce("cm", F.lit(-1)),
                    1,
                ).otherwise(0)
            ).alias("n_diff")
        )
    )
    exact = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("n")
    )
    tot = o.agg(F.count("*").cast("long").alias("big_n"))
    # TakeOrderedAndProject cut first; the rank window then runs over
    # exactly _CMS_TOP rows, never the key domain
    top = exact.orderBy(F.desc("n"), "k").limit(_CMS_TOP)
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("n"), "k"))
        .cast("long")
        .alias("rank"),
        "k",
        "n",
    )
    probes = ranked.select(
        "rank",
        "k",
        "n",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("depth"),
                    _cms_bucket(i, F.col("k")).alias("bucket"),
                )
                for i in range(_CMS_D)
            ])
        ).alias("db"),
    ).select("rank", "k", "n", "db.depth", "db.bucket")
    est = (
        F.broadcast(probes)
        .join(sk_merged, ["depth", "bucket"])
        .groupBy("rank", "k", "n")
        .agg(F.min("c").alias("est"))
    )
    return (
        est.crossJoin(F.broadcast(cert))
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            F.col("k").cast("long").alias("cust_key"),
            F.col("n").cast("long").alias("exact_n"),
            F.col("est").cast("long").alias("est_n"),
            (F.col("est") - F.col("n")).cast("long").alias("overestimate"),
            (F.col("n_diff") == 0).alias("merged_equals_direct"),
            (
                (F.col("est") - F.col("n")) * _CMS_W * _CMS_E_DEN
                <= _CMS_E_NUM * F.col("big_n")
            ).alias("within_eps"),
        )
        .orderBy("rank")
    )
