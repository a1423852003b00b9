"""Join operators (SURVEY.md §2.2): equi inner/outer, semi/anti, cross,
theta, range, as-of. Small dimensions are broadcast explicitly; the big
fact-fact joins shuffle on their keys and AQE handles skew at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..registry import query
from ..tables import bounded_sort, load, materialize
from . import DEC, DEC_MONEY, DEC_RATE, md5_mod, sql_dsum, sql_md5_mod, sql_to_dbl, to_dbl

_INNER_ORACLE = f"""
SELECT c_mktsegment,
       count(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("q_join_inner", oracle=_INNER_ORACLE)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            to_dbl(F.sum(F.col("o_totalprice").cast(DEC))).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


_Q5_ORACLE = f"""
SELECT n_name,
       {sql_to_dbl("sum(CAST(l_extendedprice AS DECIMAL(14,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))))")} AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query("q_join_5way_revenue", oracle=_Q5_ORACLE)
def q_join_5way_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style star join. region/nation (domain-bounded) carry
    broadcast hints; customer grows with scale so its join is unhinted —
    AQE broadcasts it while small, so at test SFs the only shuffle is
    the lineitem-orders join + final aggregate."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC_MONEY) * (
        F.lit(1) - F.col("l_discount").cast(DEC_RATE)
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(to_dbl(F.sum(rev)).alias("revenue"))
        # bounded report (nation domain): no range exchange, no
        # bound-sampling re-run of the final aggregate
        .transform(
            lambda d: bounded_sort(d, F.col("revenue").desc(), "n_name")
        )
    )


# TPC-H Q13 style: distribution of order counts per customer, left join so
# zero-order customers count too.
_LEFT_ORACLE = """
SELECT n_orders, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
"""


@query("q_join_left_histogram", oracle=_LEFT_ORACLE)
def q_join_left_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_orders").desc())
    )


_RIGHT_ORACLE = """
SELECT p_brand,
       count(*) AS n_parts,
       count(l_orderkey) AS n_matched_lines
FROM (SELECT * FROM lineitem WHERE l_partkey < 50) l
RIGHT JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


@query("q_join_right_outer", oracle=_RIGHT_ORACLE)
def q_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 50)
    p = load(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey, "right")
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.count("l_orderkey").alias("n_matched_lines"),
        )
        .orderBy("p_brand")
    )


_FULL_ORACLE = """
SELECT coalesce(c.nk, s.nk) AS nationkey,
       coalesce(n_cust, 0) AS n_cust,
       coalesce(n_supp, 0) AS n_supp
FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer WHERE c_nationkey < 15 GROUP BY 1) c
FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier WHERE s_nationkey > 10 GROUP BY 1) s
  ON c.nk = s.nk
ORDER BY nationkey
"""


@query("q_join_full_outer", oracle=_FULL_ORACLE)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 15)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") > 10)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, c.c_nk == s.s_nk, "full")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


_SEMI_ORACLE = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("q_join_left_semi", oracle=_SEMI_ORACLE)
def q_join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


_ANTI_ORACLE = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("q_join_left_anti", oracle=_ANTI_ORACLE)
def q_join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


_CROSS_ORACLE = """
SELECT r1.r_name AS from_region, r2.r_name AS to_region
FROM region r1 CROSS JOIN region r2
WHERE r1.r_name <> r2.r_name
ORDER BY from_region, to_region
"""


@query("q_join_cross", oracle=_CROSS_ORACLE)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r1 = load(spark, sf_dir, "region").select(F.col("r_name").alias("from_region"))
    r2 = load(spark, sf_dir, "region").select(F.col("r_name").alias("to_region"))
    return (
        r1.crossJoin(r2)
        .filter(F.col("from_region") != F.col("to_region"))
        .orderBy("from_region", "to_region")
    )


# Theta join: equi on nation + inequality on balances. Catalyst runs the
# equi part as a hash/SMJ join and the inequality as a post-filter.
_THETA_ORACLE = """
SELECT n_name, count(*) AS n_pairs
FROM supplier
JOIN customer ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
JOIN nation ON n_nationkey = s_nationkey
GROUP BY n_name
ORDER BY n_name
"""


@query("q_join_theta", oracle=_THETA_ORACLE)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal))
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("n_name")
    )


# Range join: pairs of events from the same user within a 5-minute window.
# Equi key (user_id) keeps it a hash join + range filter, NOT a cross join —
# the shape that survives 100x scale.
_RANGE_ORACLE = """
SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_pairs
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 5 MINUTE
GROUP BY type_a, type_b
ORDER BY type_a, type_b
"""


@query("q_join_range_events", oracle=_RANGE_ORACLE)
def q_join_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    a = e.select(
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
        F.col("event_type").alias("type_a"),
    )
    b = e.select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.col("event_type").alias("type_b"),
    )
    return (
        a.join(
            b,
            (F.col("a_user") == F.col("b_user"))
            & (F.col("b_ts") > F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTE")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("type_a", "type_b")
    )


# As-of join (no native Spark op, SURVEY.md §2.2 / §7 "hard parts"): for
# each click, the value of the user's most recent purchase at-or-before
# the click. Implemented as union + one window pass — ONE shuffle on
# user_id and zero joins, the shape that scales where a per-row range
# probe (quadratic) would not. Build side is pre-aggregated to one row
# per (user, ts) so ties are deterministic on both engines.
_ASOF_ORACLE = """
WITH build AS (
  SELECT user_id, ts, max(value) AS pv
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
probe AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
u AS (
  SELECT user_id, ts, 0 AS side, CAST(NULL AS BIGINT) AS event_id, pv FROM build
  UNION ALL
  SELECT user_id, ts, 1 AS side, event_id, CAST(NULL AS DOUBLE) AS pv FROM probe
),
w AS (
  SELECT *,
         last_value(pv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, side
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
  FROM u
)
SELECT event_id, user_id, ts, last_purchase
FROM w WHERE side = 1
ORDER BY event_id
"""


@query("q_join_asof", oracle=_ASOF_ORACLE)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    build = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase"))
    )
    probe = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        probe,
        build,
        on=["user_id"],
        probe_ts="ts",
        build_ts="ts",
        value_cols=["last_purchase"],
    ).select("event_id", "user_id", "ts", "last_purchase").orderBy(
        # plain orderBy (round-15 honest A/B, full recompute per rep:
        # checkpoint_sort 0.42 s vs orderBy 0.38 s): the sampling pass
        # re-runs only the window segment above the union's user_id
        # exchange, which is cheaper than the checkpoint round-trip +
        # the per-invocation rebuild a data-computing build forces
        "event_id"
    )


# Salted skew join: deterministic celebrity-key mitigation
# (operators/skew.py). The salt spreads each hot key over n tasks and
# the small side replicates n ways, so row multiplicity — and therefore
# any downstream aggregate — is unchanged; the oracle is the PLAIN join,
# proving salting is a pure physical rewrite. AQE's runtime skew split
# handles moderate skew; salting is the explicit fallback for keys so
# hot a single split still overwhelms a task.
_SALTED_ORACLE = f"""
SELECT c.c_mktsegment,
       count(*) AS n_events,
       {sql_dsum('e.value')} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@query("q_join_skew_salted", oracle=_SALTED_ORACLE)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    e = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("join_key"), "value"
    )
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("join_key"), "c_mktsegment"
    )
    joined = salted_join(e, c, on="join_key", n_salts=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            to_dbl(F.sum(F.col("value").cast(DEC))).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


# Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match each
# other instead of dropping out — the semantics audit pipelines need when
# "unknown" is itself a join category. The fixtures carry no NULLs, so a
# nullable key is derived (every 7th customer / 3rd supplier loses its
# nation). Still a hash join: Spark plans eqNullSafe as an equi-join on
# the null-wrapped key, not a nested loop.
_NULLSAFE_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
  FROM customer WHERE c_custkey < 100
),
s AS (
  SELECT s_suppkey,
         CASE WHEN s_suppkey % 3 = 0 THEN NULL ELSE s_nationkey END AS nk
  FROM supplier WHERE s_suppkey < 50
)
SELECT c_custkey, s_suppkey, c.nk AS nk
FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk
ORDER BY c_custkey, s_suppkey
"""


@query("q_join_null_safe", oracle=_NULLSAFE_ORACLE)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            "c_name",
            F.when(F.col("c_custkey") % 7 == 0, None)
            .otherwise(F.col("c_nationkey"))
            .alias("nk"),
        )
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 50)
        .select(
            "s_suppkey",
            F.when(F.col("s_suppkey") % 3 == 0, None)
            .otherwise(F.col("s_nationkey"))
            .alias("nk_s"),
        )
    )
    return (
        c.join(s, c["nk"].eqNullSafe(s["nk_s"]))
        .select("c_custkey", "s_suppkey", "nk")
        .orderBy("c_custkey", "s_suppkey")
    )


# Blocked fuzzy match: Levenshtein edit distance <= 2 between customer
# names, candidate pairs generated ONLY within a nation block (equi-join
# on c_nationkey) — the record-linkage shape: hash-partition on the
# blocking key, run the quadratic matcher inside bounded blocks, never
# across the full corpus. Both engines implement the standard
# Wagner-Fischer distance, so the scores hash-compare exactly.
_FUZZY_ORACLE = """
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       a.c_name AS name_a, b.c_name AS name_b,
       levenshtein(a.c_name, b.c_name) AS edit_dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE a.c_custkey < 300 AND b.c_custkey < 300
  AND levenshtein(a.c_name, b.c_name) <= 2
ORDER BY custkey_a, custkey_b
"""


@query("q_join_fuzzy_levenshtein", oracle=_FUZZY_ORACLE)
def q_join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    a = cust.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nk"),
    )
    b = cust.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nk"),
    )
    return (
        a.join(b, ["nk"])
        .filter(F.col("custkey_a") < F.col("custkey_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 2)
        .select("custkey_a", "custkey_b", "name_a", "name_b", "edit_dist")
        .orderBy("custkey_a", "custkey_b")
    )


# TPC-H Q12 shape: join then conditional counts — "how many
# high-priority vs low-priority orders landed in each lineitem status".
# One shuffle (the o-l join keys), partial-agg'd conditional sums; the
# CASE folds into the aggregate so no extra pass.
_PRIORITY_ORACLE = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
       count(*) AS n_lines
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@query("q_join_priority_counts", oracle=_PRIORITY_ORACLE)
def q_join_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            # ~is_high (not otherwise(1)): the oracle's NOT IN yields
            # NULL->0 for a NULL priority; when(~NULL, 1).otherwise(0)
            # matches that, when(is_high, 0).otherwise(1) would not
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# Market-basket association rules (Agrawal & Srikant, VLDB 1994 shape):
# baskets = orders, items = parts; emit the top co-occurring UNORDERED
# part pairs with support / confidence / lift. Scale discipline is the
# Apriori prune: items below the support floor are dropped BEFORE
# pairing, so the quadratic per-basket pair expansion runs only over
# frequent items (bounded per basket), and the pair join is an
# equi-join co-located on the basket key — never a cross join. The
# floor is RELATIVE (>= 0.02% of baskets, min 3): an absolute floor
# stops pruning at scale — at 100x the data essentially every part
# clears a fixed count and the "frequent" table grows with the part
# catalog. For the same reason the frequent-item table carries NO
# broadcast hint anywhere (its size is corpus-derived; AQE broadcasts
# it when it is actually small) — only the 1-row basket-count
# aggregate is hinted. All ratios divide exact int64 counts as one
# fixed-shape double expression (counts cast to double first: ca*cb
# overflows int64 at cluster scale).
# ---------------------------------------------------------------------------

_BASKET_MIN_ITEM = 3  # absolute floor under the relative prune
_BASKET_REL_ITEM = "0.0002"  # relative floor: item in >= 0.02% of baskets
_BASKET_MIN_PAIR = 2  # pair-frequency floor
_BASKET_TOP = 20

_BASKET_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_b AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
freq AS (
  SELECT l_partkey, count(*) AS cnt FROM items
  GROUP BY l_partkey
  HAVING count(*) >= (SELECT greatest(CAST({_BASKET_MIN_ITEM} AS BIGINT),
                        CAST(ceil(CAST('{_BASKET_REL_ITEM}' AS DOUBLE) * n)
                             AS BIGINT))
                      FROM n_b)
),
fitems AS (
  SELECT i.l_orderkey, i.l_partkey FROM items i
  JOIN freq USING (l_partkey)
),
pairs AS (
  SELECT a.l_partkey AS p_a, b.l_partkey AS p_b, count(*) AS pair_n
  FROM fitems a JOIN fitems b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {_BASKET_MIN_PAIR}
)
SELECT p_a, p_b, pair_n, fa.cnt AS n_a, fb.cnt AS n_b,
       round(CAST(pair_n AS DOUBLE) / n_b.n, 6) AS support,
       round(CAST(pair_n AS DOUBLE) / fa.cnt, 6) AS confidence,
       round((CAST(pair_n AS DOUBLE) * n_b.n)
             / (CAST(fa.cnt AS DOUBLE) * CAST(fb.cnt AS DOUBLE)), 6) AS lift
FROM pairs
JOIN freq fa ON fa.l_partkey = p_a
JOIN freq fb ON fb.l_partkey = p_b
CROSS JOIN n_b
ORDER BY lift DESC, p_a, p_b
LIMIT {_BASKET_TOP}
"""


@query("q_basket_association_rules", oracle=_BASKET_ORACLE)
def q_basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top part pairs by lift over order baskets, Apriori-pruned."""
    # items feeds THREE subtrees (basket count, frequent-item table,
    # pair expansion) — materialize the distinct once (guide §3.3 /
    # §8.4: decide on the small proxy, never recompute it), recomputed
    # from parquet on every invocation. Checkpointed frame: O(distinct
    # (order, part)) rows x two longs — corpus-order but maximally
    # narrow. Round-15 interleaved A/B: items-only / items+freq /
    # no-materialize all within noise (2.1-2.25 s min), so the shape is
    # kept for its at-scale plan-dedup and the freq table stays lazy.
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .transform(materialize)
    )
    n_b = broadcast(
        items.agg(F.count_distinct("l_orderkey").alias("n"))
    )
    floor = F.greatest(
        F.lit(_BASKET_MIN_ITEM).cast("bigint"),
        F.ceil(
            F.lit(_BASKET_REL_ITEM).cast("double") * F.col("n")
        ).cast("bigint"),
    )
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(n_b)
        .filter(F.col("cnt") >= floor)
        .drop("n")
    )
    fitems = items.join(freq.select("l_partkey"), "l_partkey")
    # Per-basket pair expansion by exploding sorted frequent-item
    # arrays instead of a basket-keyed self-join: ONE embedding of
    # fitems and one shuffle (groupBy l_orderkey) instead of two join
    # exchanges; per-group state is bounded by the Apriori-pruned
    # basket width, and the ascending sort makes (ps[i], ps[j]) with
    # i < j exactly the p_a < p_b pair set (the triangle-count wedge
    # shape). Same pair multiset, identical counts.
    grouped = fitems.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("ps")
    )
    pairs = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ps",
                        lambda a, i: F.transform(
                            F.slice(F.col("ps"), i + 2, F.size("ps") - i - 1),
                            lambda b: F.struct(
                                a.alias("p_a"), b.alias("p_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.p_a", "p.p_b")
        .groupBy("p_a", "p_b")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= _BASKET_MIN_PAIR)
    )
    fa = freq.select(F.col("l_partkey").alias("p_a"), F.col("cnt").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("p_b"), F.col("cnt").alias("n_b"))
    out = (
        pairs.join(fa, "p_a")
        .join(fb, "p_b")
        .crossJoin(n_b)
        .select(
            "p_a",
            "p_b",
            "pair_n",
            "n_a",
            "n_b",
            F.round(F.col("pair_n").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(F.col("pair_n").cast("double") / F.col("n_a"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("pair_n").cast("double") * F.col("n"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.col("lift").desc(), "p_a", "p_b"
    ).limit(_BASKET_TOP)


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning eval (registered round 14) — the
# runtime-filter story every 100 TB join plan lives on: instead of
# shuffling the whole fact side into a join against a filtered
# dimension, build a k-hash Bloom bitset over the dim keys (here:
# partkeys of the data-derived min brand), broadcast it as ONE row
# carrying an array<long> of 32-bit words, and pre-filter the fact
# scan with pure bit arithmetic — no per-row join, the exact shape of
# Spark's own InjectRuntimeFilter / DPP bloom path, built here from
# first principles so its sizing is measurable. Two word arrays
# (m = 4096 and 16384 bits, k = 3) probe in a SINGLE fact pass; the
# report per config is the no-false-negative certificate (n_missed
# MUST be 0 — a Bloom filter may only over-admit) plus the
# false-positive rate the m sizing buys. All hashes are the repo's
# md5-conv discipline (queries.md5_mod), every count an exact integer,
# fp_rate the only division.
# ---------------------------------------------------------------------------

_BLOOM_MS = (4096, 16384)
_BLOOM_K = 3


def _bloom_pos_sql(j: int, key: str, m: int) -> str:
    return sql_md5_mod(f"b{j}", key, m)


def _bloom_pos(j: int, key, m: int):
    return md5_mod(f"b{j}", key, m)


def _bloom_oracle() -> str:
    def word_cte(m: int) -> str:
        pos_rows = " UNION ALL ".join(
            f"SELECT {_bloom_pos_sql(j, 'p_partkey', m)} AS pos FROM dim"
            for j in range(_BLOOM_K)
        )
        return f"""
words_{m} AS (
  SELECT pos // 32 AS word, bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS mask
  FROM ({pos_rows}) GROUP BY 1
),
arr_{m} AS (
  SELECT list(coalesce(w.mask, 0) ORDER BY g.range) AS words
  FROM range(0, {m // 32}) g LEFT JOIN words_{m} w ON w.word = g.range
)"""

    def probe(m: int) -> str:
        checks = " AND ".join(
            f"(a{m}.words[CAST({_bloom_pos_sql(j, 'l_partkey', m)} // 32 "
            f"AS INT) + 1] & (CAST(1 AS BIGINT) << "
            f"CAST({_bloom_pos_sql(j, 'l_partkey', m)} % 32 AS INT))) != 0"
            for j in range(_BLOOM_K)
        )
        return f"({checks})"

    per_cfg = ", ".join(
        f"CAST(count(*) FILTER (WHERE pass_{m}) AS BIGINT) AS n_pass_{m}, "
        f"CAST(count(*) FILTER (WHERE hit AND NOT pass_{m}) AS BIGINT) "
        f"AS n_missed_{m}, "
        f"CAST(count(*) FILTER (WHERE pass_{m} AND NOT hit) AS BIGINT) "
        f"AS n_fp_{m}"
        for m in _BLOOM_MS
    )
    out_rows = " UNION ALL ".join(
        f"SELECT {m} AS m_bits, {_BLOOM_K} AS k_hashes, n_dim_keys, n_fact, "
        f"n_exact, n_pass_{m} AS n_pass, n_missed_{m} AS n_missed, "
        f"n_fp_{m} AS n_false_pos, "
        f"CAST(n_fp_{m} AS DOUBLE) / (n_fact - n_exact) AS fp_rate "
        f"FROM stats"
        for m in _BLOOM_MS
    )
    return f"""
WITH dim AS (
  SELECT p_partkey FROM part
  WHERE p_brand = (SELECT min(p_brand) FROM part)
),
{",".join(word_cte(m).lstrip() for m in _BLOOM_MS)},
flags AS (
  SELECT (d.p_partkey IS NOT NULL) AS hit,
         {", ".join(f"{probe(m)} AS pass_{m}" for m in _BLOOM_MS)}
  FROM lineitem l
  CROSS JOIN arr_4096 a4096 CROSS JOIN arr_16384 a16384
  LEFT JOIN dim d ON d.p_partkey = l.l_partkey
),
stats AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM dim) AS n_dim_keys,
         CAST(count(*) AS BIGINT) AS n_fact,
         CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_exact,
         {per_cfg}
  FROM flags
)
SELECT CAST(m_bits AS BIGINT) AS m_bits, CAST(k_hashes AS BIGINT) AS k_hashes,
       n_dim_keys, n_fact, n_exact, n_pass, n_missed, n_false_pos, fp_rate
FROM ({out_rows})
ORDER BY m_bits
"""


_BLOOM_ORACLE = _bloom_oracle()


@query("q_join_bloom_prune_eval", oracle=_BLOOM_ORACLE)
def q_join_bloom_prune_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    min_brand = part.agg(F.min("p_brand").alias("mb"))
    dim = (
        part.join(
            F.broadcast(min_brand), F.col("p_brand") == F.col("mb"), "inner"
        )
        .select("p_partkey")
    )

    def words(m: int) -> DataFrame:
        pos = dim.select(
            F.explode(
                F.array(*[
                    _bloom_pos(j, F.col("p_partkey"), m)
                    for j in range(_BLOOM_K)
                ])
            ).alias("pos")
        )
        w = (
            pos.select(
                (F.col("pos") / 32).cast("long").alias("word"),
                # shiftleft needs a literal bit count in the Python API;
                # the SQL form takes the column
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
                ).alias("one_bit"),
            )
            .groupBy("word")
            .agg(F.bit_or("one_bit").alias("mask"))
        )
        dense = (
            spark.range(m // 32)
            .withColumnRenamed("id", "word")
            .join(w, "word", "left")
            .select("word", F.coalesce("mask", F.lit(0)).alias("mask"))
        )
        return dense.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("word", "mask"))),
                lambda x: x.mask,
            ).alias(f"words_{m}")
        )

    def probe(m: int):
        checks = None
        for j in range(_BLOOM_K):
            c = (
                F.element_at(
                    F.col(f"words_{m}"),
                    (F.col(f"p_{m}_{j}") / 32).cast("int") + 1,
                ).bitwiseAND(
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT), "
                        f"CAST(p_{m}_{j} % 32 AS INT))"
                    )
                )
                != 0
            )
            checks = c if checks is None else (checks & c)
        return checks

    flags = (
        # 2 configs x _BLOOM_K md5 probes per lineitem row is the map
        # cost of this eval
        li.select("l_partkey")
        .select(
            "l_partkey",
            *[
                _bloom_pos(j, F.col("l_partkey"), m).alias(f"p_{m}_{j}")
                for m in _BLOOM_MS
                for j in range(_BLOOM_K)
            ],
        )
        .crossJoin(F.broadcast(words(_BLOOM_MS[0])))
        .crossJoin(F.broadcast(words(_BLOOM_MS[1])))
        .join(
            dim.withColumn("hit0", F.lit(True)),
            F.col("p_partkey") == F.col("l_partkey"),
            "left",
        )
        .select(
            F.coalesce("hit0", F.lit(False)).alias("hit"),
            *[probe(m).alias(f"pass_{m}") for m in _BLOOM_MS],
        )
    )
    n_dim = dim.agg(F.count("*").cast("long").alias("n_dim_keys"))
    stats = flags.agg(
        F.count("*").cast("long").alias("n_fact"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        *[
            x
            for m in _BLOOM_MS
            for x in (
                F.sum(F.when(F.col(f"pass_{m}"), 1).otherwise(0))
                .cast("long")
                .alias(f"n_pass_{m}"),
                F.sum(
                    F.when(F.col("hit") & ~F.col(f"pass_{m}"), 1).otherwise(0)
                )
                .cast("long")
                .alias(f"n_missed_{m}"),
                F.sum(
                    F.when(F.col(f"pass_{m}") & ~F.col("hit"), 1).otherwise(0)
                )
                .cast("long")
                .alias(f"n_fp_{m}"),
            )
        ],
    ).crossJoin(F.broadcast(n_dim))
    return (
        stats.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(m).cast("long").alias("m_bits"),
                        F.lit(_BLOOM_K).cast("long").alias("k_hashes"),
                        F.col("n_dim_keys"),
                        F.col("n_fact"),
                        F.col("n_exact"),
                        F.col(f"n_pass_{m}").alias("n_pass"),
                        F.col(f"n_missed_{m}").alias("n_missed"),
                        F.col(f"n_fp_{m}").alias("n_false_pos"),
                        (
                            F.col(f"n_fp_{m}").cast("double")
                            / (F.col("n_fact") - F.col("n_exact"))
                        ).alias("fp_rate"),
                    )
                    for m in _BLOOM_MS
                ])
            ).alias("r")
        )
        .select("r.*")
        .orderBy("m_bits")
    )
