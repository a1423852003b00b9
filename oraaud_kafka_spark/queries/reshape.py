"""Reshape & profiling surface: unpivot/melt (wide->long) and one-pass
table profiling — the utility ops every dataset onboarding flow runs
before anything else touches the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load

_UNPIVOT_ORACLE = """
WITH u AS (
  UNPIVOT (
    SELECT p_partkey, p_retailprice, CAST(p_size AS DOUBLE) AS p_size_d
    FROM part WHERE p_partkey < 50
  )
  ON p_retailprice, p_size_d INTO NAME metric VALUE val
)
SELECT p_partkey, metric, val
FROM u
ORDER BY p_partkey, metric
"""


@query("q_unpivot", oracle=_UNPIVOT_ORACLE)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt via the native unpivot operator (Expand node in
    the plan: one pass, rows x n_value_cols output, no shuffle)."""
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 50)
        .select(
            "p_partkey",
            "p_retailprice",
            F.col("p_size").cast("double").alias("p_size_d"),
        )
    )
    return (
        p.unpivot(
            ids=["p_partkey"],
            values=["p_retailprice", "p_size_d"],
            variableColumnName="metric",
            valueColumnName="val",
        )
        .orderBy("p_partkey", "metric")
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_PROFILE_ORACLE = (
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
       count({c}) AS n_nonnull,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS DOUBLE) AS min_val,
       CAST(max({c}) AS DOUBLE) AS max_val
FROM lineitem"""
        for c in _PROFILE_COLS
    )
    + "\nORDER BY col_name"
)


@query("q_profile_table", oracle=_PROFILE_ORACLE)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (non-null / distinct / min / max) for several
    columns in ONE scan: all aggregates compute in a single pass (the
    oracle unions per-column scans — DuckDB at sf0.01 doesn't care, but
    at 100 TB the single-scan shape is the difference between one pass
    and n_cols passes), then the 1-row result explodes into a row per
    column. min/max/count are exact, no float summation anywhere.

    100 TB cost note: n_cols EXACT count_distinct in one agg makes
    Catalyst plan the multi-distinct via Expand — every input row is
    replicated (n_cols + 1)x before the shuffle. Round-15 (guide §2.3 /
    verdict item 5): each distinct count instead runs as its own
    dedup-then-count leg (map-side partial dedup, no Expand anywhere;
    the three low-cardinality columns collapse map-side to a handful of
    rows) crossJoined onto one plain stats pass — 0.92 s -> 0.50 s at
    sf0.1, and the Expand's (n_cols+1)x row replication is gone at any
    scale. Exact distinct is still only the right call when the
    cardinality must be authoritative; the first-pass profile a 100 TB
    user actually runs is q_profile_table_approx / profile_approx()
    below."""
    li = load(spark, sf_dir, "lineitem")
    one = li.agg(*[
        a
        for c in _PROFILE_COLS
        for a in (
            F.count(c).alias(f"{c}__n"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        )
    ])
    for c in _PROFILE_COLS:
        dc = li.select(c).distinct().agg(F.count(c).alias(f"{c}__d"))
        one = one.crossJoin(F.broadcast(dc))
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__n").alias("n_nonnull"),
                F.col(f"{c}__d").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return (
        one.select(F.explode_outer(per_col).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


def profile_approx(df: DataFrame, cols: tuple[str, ...], rsd: float = 0.02):
    """Production-shape approximate profile: ONE scan, ONE ordinary
    hash aggregate — count/min/max exact, distinct via HLL++ sketches.
    No Expand anywhere in the plan (pinned in tests/test_plans.py), so
    input rows are never replicated; this is the profile you run first
    on 100 TB. Returns the single wide row (pre-explode)."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.approx_count_distinct(c, rsd=rsd).alias(f"{c}__ad"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    return df.agg(*aggs)


# Certification harness for profile_approx: the sketch value itself is
# engine-specific (Spark HLL++ != DuckDB approx), so the driver-hashable
# surface is the exact profile plus a per-column within-tolerance
# boolean on the sketch (10% = 5 sigma at rsd=0.02). The exact distinct
# needed for that bound means THIS query still pays the Expand; the
# production path (profile_approx alone) does not.
_PROFILE_APPROX_ORACLE = (
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
       count({c}) AS n_nonnull,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS DOUBLE) AS min_val,
       CAST(max({c}) AS DOUBLE) AS max_val,
       TRUE AS distinct_within_tol
FROM lineitem"""
        for c in _PROFILE_COLS
    )
    + "\nORDER BY col_name"
)


@query("q_profile_table_approx", oracle=_PROFILE_APPROX_ORACLE)
def q_profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    one = profile_approx(li, _PROFILE_COLS)
    # exact certification leg: per-column dedup-then-count instead of a
    # 5x-Expand multi-distinct (round-15, same rewrite as
    # q_profile_table — no row replication, map-side partial dedup)
    exact = None
    for c in _PROFILE_COLS:
        dc = li.select(c).distinct().agg(F.count(c).alias(f"{c}__d"))
        exact = dc if exact is None else exact.crossJoin(F.broadcast(dc))
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__n").alias("n_nonnull"),
                F.col(f"{c}__d").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
                (
                    F.abs(F.col(f"{c}__ad") - F.col(f"{c}__d"))
                    <= 0.1 * F.col(f"{c}__d")
                ).alias("distinct_within_tol"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return (
        one.crossJoin(exact)
        .select(F.explode_outer(per_col).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


# Contingency table with margins: lang x source counts pivoted wide,
# plus a row total — the crosstab every corpus-composition review
# starts from. One partial-agg'd groupBy + a width-5 conditional-count
# pivot; margins are plain sums over the pivoted columns (no second
# scan, no rollup pass).
_SOURCES = tuple(f"src{i}" for i in range(5))
_XTAB_COLS = ", ".join(
    f"count(*) FILTER (WHERE source = '{s}') AS n_{s}" for s in _SOURCES
)

_CROSSTAB_ORACLE = f"""
SELECT lang, {_XTAB_COLS}, count(*) FILTER (WHERE source IN ({", ".join(f"'{s}'" for s in _SOURCES)})) AS n_total
FROM documents
GROUP BY lang
ORDER BY lang
"""


@query("q_crosstab_margins", oracle=_CROSSTAB_ORACLE)
def q_crosstab_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = [
        F.count(F.when(F.col("source") == s, 1)).alias(f"n_{s}") for s in _SOURCES
    ]
    total = F.count(F.when(F.col("source").isin(*_SOURCES), 1)).alias("n_total")
    return d.groupBy("lang").agg(*counts, total).orderBy("lang")


# Hot-key skew diagnostic: the report you run BEFORE shipping a big
# join — per-key row counts reduced to one summary row (distinct keys,
# max/mean width, skew ratio) plus the top-5 heaviest keys. One
# partial-agg'd groupBy over the fact scan, then two tiny aggregates
# over the key-cardinality table (the top-5 goes through
# orderBy+limit -> TakeOrderedAndProject, never a full sort). The skew
# ratio (max key width / mean width) is the number that decides
# between a plain shuffle join, AQE skew splitting, and an explicit
# salted join (operators/skew.py).
_SKEW_ORACLE = """
WITH cnts AS (
  -- NULL keys never participate in an equi-join, so they are not part
  -- of the skew question (and the two engines' string aggregation
  -- handles NULL differently) — excluded on both sides
  SELECT o_custkey AS key, count(*) AS n FROM orders
  WHERE o_custkey IS NOT NULL GROUP BY o_custkey
),
summary AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(n) AS BIGINT) AS max_n,
         CAST(sum(n) AS BIGINT) AS total_rows,
         round(CAST(max(n) AS DOUBLE) * count(*) / sum(n), 4) AS skew_ratio
  FROM cnts
),
top5 AS (
  SELECT string_agg(CAST(key AS VARCHAR) || ':' || CAST(n AS VARCHAR), ','
                    ORDER BY n DESC, key) AS top_keys
  FROM (SELECT key, n FROM cnts ORDER BY n DESC, key LIMIT 5)
)
SELECT n_keys, max_n, total_rows, skew_ratio, top_keys
FROM summary CROSS JOIN top5
"""


@query("q_profile_join_skew", oracle=_SKEW_ORACLE)
def q_profile_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cnts = (
        o.filter(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count("*").alias("n"))
    )
    summary = cnts.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_n"),
        F.sum("n").cast("long").alias("total_rows"),
        F.round(
            F.max("n").cast("double") * F.count("*") / F.sum("n"), 4
        ).alias("skew_ratio"),
    )
    top5 = (
        cnts.orderBy(F.col("n").desc(), "key")
        .limit(5)
        .agg(
            # nullif('') pins the degenerate zero-key case: array_join
            # over an empty collect_list yields '' while the oracle's
            # string_agg over zero rows yields NULL — NULL means "no
            # keys" on both engines (a real entry always contains ':')
            F.nullif(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct((-F.col("n")).alias("neg"), "key", "n")
                            )
                        ),
                        lambda x: F.concat_ws(
                            ":", x.key.cast("string"), x.n.cast("string")
                        ),
                    ),
                    ",",
                ),
                F.lit(""),
            ).alias("top_keys")
        )
    )
    return summary.crossJoin(F.broadcast(top5))


# Data-quality constraint report (operators/quality.py — the Deequ/
# Great-Expectations shape): column predicates compile into ONE
# conditional-sum scan, uniqueness is one key-only groupBy, referential
# integrity is one anti join against the distinct parent keys — three
# bounded jobs unioned into an exact integer report. The constraint
# set below is the lineitem contract a warehouse would actually pin.
_QUALITY_ORACLE = """
WITH pred AS (
  SELECT
    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS nn,
    sum(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 50)
              OR l_quantity IS NULL THEN 1 ELSE 0 END) AS rng,
    sum(CASE WHEN NOT (l_discount >= 0 AND l_discount <= 0.1)
              OR l_discount IS NULL THEN 1 ELSE 0 END) AS disc,
    sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
              OR l_returnflag IS NULL THEN 1 ELSE 0 END) AS flag
  FROM lineitem
),
uniq AS (
  SELECT coalesce(sum(n), 0) AS v
  FROM (SELECT count(*) AS n FROM lineitem
        GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
),
refi AS (
  -- NOT EXISTS, not NOT IN: one NULL parent key would make NOT IN
  -- return zero rows; NULL children belong to the not_null constraint
  SELECT count(*) AS v FROM lineitem l
  WHERE l.l_orderkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
)
SELECT constraint_name, CAST(n_violations AS BIGINT) AS n_violations,
       CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
FROM (
  SELECT 'not_null(l_orderkey)' AS constraint_name, nn AS n_violations FROM pred
  UNION ALL SELECT 'range(l_quantity,1,50)', rng FROM pred
  UNION ALL SELECT 'range(l_discount,0,0.1)', disc FROM pred
  UNION ALL SELECT 'in_set(l_returnflag)', flag FROM pred
  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', v FROM uniq
  UNION ALL SELECT 'ref(l_orderkey->o_orderkey)', v FROM refi
)
ORDER BY constraint_name
"""


@query("q_quality_constraints", oracle=_QUALITY_ORACLE)
def q_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import (
        predicate_violations,
        quality_report,
        referential_violations,
        uniqueness_violations,
    )

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    preds = predicate_violations(
        li,
        {
            "not_null(l_orderkey)": F.col("l_orderkey").isNotNull(),
            "range(l_quantity,1,50)": (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 50),
            "range(l_discount,0,0.1)": (F.col("l_discount") >= 0)
            & (F.col("l_discount") <= 0.1),
            "in_set(l_returnflag)": F.col("l_returnflag").isin("A", "N", "R"),
        },
    )
    uniq = uniqueness_violations(li, ["l_orderkey", "l_linenumber"])
    refi = referential_violations(li, o, ("l_orderkey", "o_orderkey"))
    return quality_report([preds, uniq, refi])


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy/governance gate for training-data release,
# Sweeney 2002 shape): group rows by their quasi-identifier tuple
# (nation, market segment), measure every equivalence-class size k, and
# report the class-size distribution plus the re-identification-risk
# share (rows in classes below the k=5 threshold). Two partial-agg'd
# shuffles, both over the bounded QI domain — at 100 TB the second
# aggregate sees |nations| x |segments| rows, and the row-share ratio
# is one IEEE division of exact int64 counts. The corpus total comes
# from a global window over the CLASS-cardinality table, not a
# broadcast 1-row aggregate: the broadcast's lineage would RE-RUN the
# full QI scan+aggregate (a second 100 TB pass for one number) — the
# recompute class test_plans pins against here and in
# q_privacy_l_diversity / q_events_kaplan_meier.
# ---------------------------------------------------------------------------

_K_ANON_THRESHOLD = 5

_K_ANON_ORACLE = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS k
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
tot AS (SELECT CAST(sum(k) AS BIGINT) AS n_total FROM classes)
SELECT k,
       count(*) AS n_classes,
       CAST(k * count(*) AS BIGINT) AS n_rows,
       round(CAST(k * count(*) AS DOUBLE) / n_total, 6) AS row_share,
       k >= {_K_ANON_THRESHOLD} AS k_anonymous
FROM classes CROSS JOIN tot
GROUP BY k, n_total
ORDER BY k
"""


@query("q_privacy_k_anonymity", oracle=_K_ANON_ORACLE)
def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    classes = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("k")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        classes.withColumn(
            "n_total", F.sum("k").over(wall).cast("bigint")
        )
        .groupBy("k", "n_total")
        .agg(F.count("*").alias("n_classes"))
        .select(
            "k",
            "n_classes",
            (F.col("k") * F.col("n_classes")).cast("bigint").alias("n_rows"),
            F.round(
                (F.col("k") * F.col("n_classes")).cast("double")
                / F.col("n_total"),
                6,
            ).alias("row_share"),
            (F.col("k") >= _K_ANON_THRESHOLD).alias("k_anonymous"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Distinct l-diversity audit (Machanavajjhala et al. 2007) — the
# follow-on check to q_privacy_k_anonymity on the SAME quasi-identifier
# (nationkey, mktsegment): a class can be k-anonymous yet leak its
# sensitive attribute when every member shares one value. Sensitive
# attribute here = account-balance band floor(acctbal/1000) (11 bands
# over the fixture's -999..9999 range — double division + floor is the
# identical IEEE op on both engines). Per class l = count(DISTINCT
# band); the report groups classes by l exactly as the k-anonymity
# report groups by k, flagging l < 3 (an attacker's attribute-disclosure
# odds). Scale: two partial-agg'd groupBys on bounded domains (QI
# classes, then l values) + a 1-row broadcast total — no row-level
# shuffle beyond the first aggregate, same scan-speed shape as the
# k-anonymity audit it extends.
# ---------------------------------------------------------------------------

_L_DIV_THRESHOLD = 3

_L_DIV_ORACLE = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         count(*) AS k,
         count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
tot AS (SELECT CAST(sum(k) AS BIGINT) AS n_total FROM classes)
SELECT l,
       count(*) AS n_classes,
       CAST(sum(k) AS BIGINT) AS n_rows,
       round(CAST(sum(k) AS DOUBLE) / n_total, 6) AS row_share,
       l >= {_L_DIV_THRESHOLD} AS l_diverse
FROM classes CROSS JOIN tot
GROUP BY l, n_total
ORDER BY l
"""


@query("q_privacy_l_diversity", oracle=_L_DIV_ORACLE)
def q_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many distinct sensitive-value bands back each QI class —
    the attribute-disclosure complement of the k-anonymity audit."""
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(1000)).cast("bigint")
    classes = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("k"),
        F.countDistinct(band).alias("l"),
    )
    # total via a global window over the CLASS-cardinality table (125
    # rows at any corpus size) — one customer scan total, vs the
    # broadcast-total pattern whose tot lineage would re-run the QI
    # aggregate (the recompute class test_plans pins against)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        classes.withColumn(
            "n_total", F.sum("k").over(wall).cast("bigint")
        )
        .groupBy("l", "n_total")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("k").cast("bigint").alias("n_rows"),
        )
        .select(
            "l",
            "n_classes",
            "n_rows",
            F.round(
                F.col("n_rows").cast("double") / F.col("n_total"), 6
            ).alias("row_share"),
            (F.col("l") >= _L_DIV_THRESHOLD).alias("l_diverse"),
        )
        .orderBy("l")
    )


# ---------------------------------------------------------------------------
# t-closeness audit (Li, Li, Venkatasubramanian, ICDE 2007) — the third
# privacy lens: a class can be k-anonymous AND l-diverse while its
# sensitive-value DISTRIBUTION still deviates enough from the corpus
# to leak (skewness attack). Distance here is total variation
# (the conservative upper bound on the EMD t-closeness uses for
# unordered attributes): per QI class,
#   tvd = [ sum_{b in class} |c_b*N - g_b*n| + (N - sum_{b} g_b)*n ]
#         / (2*n*N)
# where the second term folds every band ABSENT from the class in
# closed form — so the per-class state is only the bands it actually
# holds, and everything is exact integer cross-multiplication until
# ONE final division. Scale: one scan to the (class x band) counts
# (125 x 11 bounded rows), then three windows + the regroup ALL on that
# bounded table — no broadcast, no recompute, no join (same plan
# discipline as the k-anonymity/l-diversity pair, pinned).
# ---------------------------------------------------------------------------

_T_CLOSE_T = 0.375  # flag classes whose TVD exceeds this

_T_CLOSE_ORACLE = f"""
WITH cb AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
         count(*) AS c
  FROM customer GROUP BY c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000) AS BIGINT)
),
win AS (
  SELECT c_nationkey, c_mktsegment, band, c,
         sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment) AS n,
         sum(c) OVER (PARTITION BY band) AS g,
         sum(c) OVER () AS nn
  FROM cb
),
cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(max(n) AS BIGINT) AS n,
         CAST(max(nn) AS BIGINT) AS nn,
         CAST(sum(abs(CAST(c AS HUGEINT) * nn - CAST(g AS HUGEINT) * n))
              AS HUGEINT) AS present,
         CAST(max(nn) - sum(g) AS HUGEINT) AS absent_g
  FROM win GROUP BY c_nationkey, c_mktsegment
)
SELECT c_nationkey, c_mktsegment, n,
       round(CAST(present + absent_g * n AS DOUBLE) / (2.0 * n * nn), 6)
         AS tvd,
       CAST(present + absent_g * n AS DOUBLE) / (2.0 * n * nn)
         <= {_T_CLOSE_T} AS t_close
FROM cls
ORDER BY c_nationkey, c_mktsegment
"""


@query("q_privacy_t_closeness", oracle=_T_CLOSE_ORACLE)
def q_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-QI-class total-variation distance between the class's
    sensitive-band distribution and the corpus distribution, with
    absent-band mass folded in closed form."""
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(1000)).cast("bigint")
    cb = c.groupBy(
        "c_nationkey", "c_mktsegment", band.alias("band")
    ).agg(F.count("*").alias("c"))
    wcls = Window.partitionBy("c_nationkey", "c_mktsegment")
    wband = Window.partitionBy("band")
    wall = Window.partitionBy()
    dec = "decimal(38,0)"
    win = cb.select(
        "c_nationkey",
        "c_mktsegment",
        "band",
        "c",
        F.sum("c").over(wcls).alias("n"),
        F.sum("c").over(wband).alias("g"),
        F.sum("c").over(wall).alias("nn"),
    )
    cls = win.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("nn").cast("bigint").alias("nn"),
        F.sum(
            F.abs(
                F.col("c").cast(dec) * F.col("nn")
                - F.col("g").cast(dec) * F.col("n")
            )
        ).alias("present"),
        (F.max("nn").cast(dec) - F.sum("g").cast(dec)).alias("absent_g"),
    )
    num = (F.col("present") + F.col("absent_g") * F.col("n")).cast("double")
    den = F.lit(2.0) * F.col("n") * F.col("nn")
    return cls.select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        F.round(num / den, 6).alias("tvd"),
        (num / den <= _T_CLOSE_T).alias("t_close"),
    ).orderBy("c_nationkey", "c_mktsegment")
