"""Graph analytics over the event-type transition graph.

The graph is derived once from the raw event stream — consecutive
events per user (ordered by the (ts, event_id) total order, NULL-ts
rows excluded as everywhere in the event kit) become weighted directed
edges between event types. That derivation is the only part that
touches row-cardinality data: one window pass + one aggregate shuffle.
Everything downstream (degree profile, PageRank power iteration) runs
on the aggregated type graph, whose size is bounded by |event_types|²
— a dimension-table-sized frame at any corpus scale, so the iterative
loop is broadcast-joined and costs nothing against 100 TB of events.

PageRank determinism contract (both engines, identical expressions):
edge shares are single IEEE divisions of exact integers; per-iteration
contributions are rounded to 12 dp and summed as DECIMAL(20,12) (exact,
order-independent); each new rank is one fixed-shape double expression
rounded to 9 dp. Dangling vertices (no out-edges) keep receiving the
teleport term but redistribute no mass — rank totals are therefore not
renormalized; the contract is the fixed-point of this explicit update,
not of any particular textbook normalization.

Reference parity: the reference (oraaud-kafka, ingest-only) has no graph
surface; this extends SURVEY.md §2.2's analytic families with the
iterative-graph archetype alongside PCA / k-means (operators/pca.py,
operators/kmeans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, materialize

_PR_ITERS = 12

_GRAPH_CTES = """
ev AS (SELECT * FROM events WHERE ts IS NOT NULL),
seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM ev
),
edges AS (
  SELECT prev AS src, event_type AS dst, count(*) AS w
  FROM seq WHERE prev IS NOT NULL
  GROUP BY prev, event_type
)"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    )
    return (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count("*").alias("w"))
    )


_DEGREE_ORACLE = f"""
WITH {_GRAPH_CTES},
outs AS (SELECT src AS t, CAST(sum(w) AS BIGINT) AS out_w,
                count(*) AS out_deg
         FROM edges GROUP BY src),
ins AS (SELECT dst AS t, CAST(sum(w) AS BIGINT) AS in_w,
               count(*) AS in_deg
        FROM edges GROUP BY dst),
verts AS (SELECT t FROM outs UNION SELECT t FROM ins)
SELECT v.t AS event_type,
       coalesce(out_deg, CAST(0 AS BIGINT)) AS out_deg,
       coalesce(out_w, CAST(0 AS BIGINT)) AS out_w,
       coalesce(in_deg, CAST(0 AS BIGINT)) AS in_deg,
       coalesce(in_w, CAST(0 AS BIGINT)) AS in_w,
       CASE WHEN coalesce(out_w, CAST(0 AS BIGINT)) > 0
            THEN round(CAST(coalesce(in_w, CAST(0 AS BIGINT)) AS DOUBLE)
                       / CAST(out_w AS DOUBLE), 6) END AS in_out_ratio
FROM verts v
LEFT JOIN outs USING (t) LEFT JOIN ins USING (t)
ORDER BY event_type
"""


@query("q_graph_degree_profile", oracle=_DEGREE_ORACLE)
def q_graph_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted in/out degree per vertex of the type-transition graph.

    Same materialization discipline as q_events_pagerank: the
    |types|²-bounded aggregated edge table is collected once (single
    events pass at build time) and the degree fold happens driver-side
    in exact integer arithmetic — without this, each of the three
    branches re-derives the full event-window lineage (17 scan nodes),
    and even over a literal frame the three-branch join plan pays
    ~1.4 s codegen per fresh QueryExecution. Only exact integers cross
    the driver; the ratio division stays a Spark expression."""
    collected = _edges(spark, sf_dir).collect()
    # The |types|²-bounded edge list is already on the driver, so the
    # degree fold happens HERE in exact integer arithmetic — building
    # outs/ins/verts as three Spark branches over the literal frame
    # costs ~1.4 s of whole-stage-codegen compilation on EVERY fresh
    # QueryExecution (each .write replans; measured via bench), for a
    # ≤|types|-row report. The emitted plan is one LocalRelation +
    # projection + sort; only the ratio division stays a Spark
    # expression (IEEE parity with the oracle).
    outs: dict[str, list[int]] = {}
    ins: dict[str, list[int]] = {}
    for r in collected:
        o = outs.setdefault(r.src, [0, 0])
        o[0] += int(r.w)
        o[1] += 1
        i = ins.setdefault(r.dst, [0, 0])
        i[0] += int(r.w)
        i[1] += 1
    rows = [
        (
            t,
            outs.get(t, [0, 0])[1],
            outs.get(t, [0, 0])[0],
            ins.get(t, [0, 0])[1],
            ins.get(t, [0, 0])[0],
        )
        for t in sorted(set(outs) | set(ins))
    ]
    schema = (
        "event_type string, out_deg bigint, out_w bigint, "
        "in_deg bigint, in_w bigint"
    )
    if rows:
        # inline literal structs, NOT createDataFrame: a Python-list
        # DataFrame is backed by a pickled RDD, so EVERY execution of
        # the plan spins up a Python worker to re-deserialize the
        # |types| rows (~0.5-1.3 s per run measured in bench context).
        # The literal form is a pure-JVM LocalRelation — no Python at
        # execution time.
        j = spark.range(1).select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("event_type"),
                            F.lit(od).cast("bigint").alias("out_deg"),
                            F.lit(ow).cast("bigint").alias("out_w"),
                            F.lit(idg).cast("bigint").alias("in_deg"),
                            F.lit(iw).cast("bigint").alias("in_w"),
                        )
                        for t, od, ow, idg, iw in rows
                    ]
                )
            )
        )
    else:
        j = spark.createDataFrame([], schema)
    return j.select(
        "event_type",
        "out_deg",
        "out_w",
        "in_deg",
        "in_w",
        F.when(
            F.col("out_w") > 0,
            F.round(
                F.col("in_w").cast("double") / F.col("out_w").cast("double"), 6
            ),
        ).alias("in_out_ratio"),
    ).orderBy("event_type")


def _pr_oracle() -> str:
    head = f"""
WITH {_GRAPH_CTES},
vbase AS (SELECT src AS t FROM edges UNION SELECT dst FROM edges),
outs AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
shares AS (
  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS share
  FROM edges e JOIN outs o ON e.src = o.src
),
verts AS (
  SELECT t, (SELECT CAST(count(*) AS BIGINT) FROM vbase) AS nv FROM vbase
),
r0 AS (SELECT t, nv, round(1.0 / nv, 9) AS r FROM verts)"""
    iters = []
    for k in range(1, _PR_ITERS + 1):
        iters.append(f""",
r{k} AS (
  SELECT v.t, v.nv,
         round(0.15 / v.nv
               + 0.85 * CAST(coalesce(c.s, CAST(0 AS DECIMAL(20,12)))
                             AS DOUBLE), 9) AS r
  FROM verts v LEFT JOIN (
    SELECT e.dst AS t,
           sum(CAST(round(e.share * p.r, 12) AS DECIMAL(20,12))) AS s
    FROM shares e JOIN r{k - 1} p ON e.src = p.t
    GROUP BY e.dst
  ) c ON v.t = c.t
)""")
    tail = f"""
SELECT t AS event_type, nv AS n_vertices, round(r, 6) AS pagerank
FROM r{_PR_ITERS}
ORDER BY pagerank DESC, event_type
"""
    return head + "".join(iters) + tail


_PAGERANK_ORACLE = _pr_oracle()


@query("q_events_pagerank", oracle=_PAGERANK_ORACLE)
def q_events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, 12 power iterations) over the type-transition
    graph. The oracle unrolls the identical update as a 12-level CTE
    chain, so the driver hash-checks every arithmetic decision of the
    loop, not just its shape.

    Scale contract (same discipline as q_sql_recursive_paths,
    pricing.py): the aggregated edge table is MATERIALIZED first — one
    window pass + one aggregate shuffle over events, then a collect
    bounded by |event_types|² rows of exact integers — and the
    12-iteration power loop runs as single-row literal projections, one
    eagerly-evaluated tiny job per iteration (no shuffle, no join, one
    task), with each iteration's rank vector re-embedded as shortest-
    repr double literals (IEEE-754 round-trip-exact through
    Double.parseDouble). The final plan therefore contains ZERO events
    scans — at 100 TB the events table is read exactly once, at build
    time — and every float is still produced by the exact Spark
    expressions the oracle unrolls (double division of exact ints;
    12-dp round cast to DECIMAL(20,12); exact decimal addition —
    associative, so the oracle's unordered SUM matches the literal
    addition chain; 9-dp double round). The iterations are NOT left as
    one lazy 12-deep projection chain: CollapseProject + per-layer
    fan-out (each rank feeds every out-edge) would inline it into an
    exponentially-sized expression tree before constant folding could
    collapse it."""
    collected = _edges(spark, sf_dir).collect()
    if not collected:
        return spark.createDataFrame(
            [], "event_type string, n_vertices bigint, pagerank double"
        )
    ow: dict[str, int] = {}
    for r in collected:
        ow[r.src] = ow.get(r.src, 0) + r.w
    verts = sorted({r.src for r in collected} | {r.dst for r in collected})
    idx = {t: i for i, t in enumerate(verts)}
    nv = len(verts)
    # incoming[j] = [(i, share_sql)] — share as a literal-int division
    # so the IEEE quotient is computed by Spark, not Python
    incoming: dict[int, list[tuple[int, str]]] = {i: [] for i in range(nv)}
    for r in collected:
        share = (
            f"(CAST({int(r.w)} AS DOUBLE) / CAST({int(ow[r.src])} AS DOUBLE))"
        )
        incoming[idx[r.dst]].append((idx[r.src], share))
    nv_sql = f"CAST({nv} AS BIGINT)"

    def lit_d(x: float) -> str:
        # shortest-repr text round-trips to the identical IEEE double
        return f"CAST('{x!r}' AS DOUBLE)"

    rank = [
        r[0]
        for r in spark.range(1)
        .selectExpr(f"round(CAST(1.0 AS DOUBLE) / {nv_sql}, 9)")
        .collect()
    ] * nv
    for _ in range(_PR_ITERS):
        exprs = []
        for i in range(nv):
            terms = [
                f"CAST(round({share} * {lit_d(rank[j])}, 12)"
                " AS DECIMAL(20,12))"
                for j, share in incoming[i]
            ]
            s = " + ".join(terms) if terms else "CAST(0 AS DECIMAL(20,12))"
            exprs.append(
                f"round(CAST(0.15 AS DOUBLE) / {nv_sql}"
                f" + CAST(0.85 AS DOUBLE) * CAST({s} AS DOUBLE), 9) AS r_{i}"
            )
        rank = list(spark.range(1).selectExpr(*exprs).collect()[0])
    quoted = [t.replace("'", "''") for t in verts]
    stack = ", ".join(
        f"'{q}', {lit_d(rank[i])}" for i, q in enumerate(quoted)
    )
    return spark.range(1).selectExpr(
        f"stack({nv}, {stack}) AS (event_type, r)"
    ).select(
        "event_type",
        F.lit(nv).cast("bigint").alias("n_vertices"),
        F.round("r", 6).alias("pagerank"),
    ).orderBy(F.col("pagerank").desc(), "event_type")


# ---------------------------------------------------------------------------
# Part CO-PURCHASE graph (registered round 14) — the second graph this
# module derives: parts are connected when they appear in >= 2 common
# orders (the support floor keeps the edge set signal-bearing and
# BOUNDED — the fixture carries 2.3-3.6k edges at every SF while the
# raw pair count grows 100x). THE one definition (SQL CTE + DataFrame
# twins) shared by the triangle count and the link prediction below, so
# the graph can never silently diverge between them.
# ---------------------------------------------------------------------------

_TRI_SUPPORT = 2  # co-purchase edges need >= 2 common orders

_COPURCHASE_CTE_SQL = f"""op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_SUPPORT}
),
deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
  GROUP BY 1
)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) co-purchase edges under the support floor —
    the DataFrame twin of _COPURCHASE_CTE_SQL's ``e``."""
    li = load(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("v"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= _TRI_SUPPORT)
        .select("u", "v")
    )


def _copurchase_degrees(e: DataFrame) -> DataFrame:
    # explode, not unionAll: a union embeds TWO copies of the whole
    # co-purchase subtree (scan + distinct + self-join + agg) in the
    # plan, an explode embeds one — same node multiset, half the work
    # (round-14 optimization: the un-reused union branches were the
    # dominant cost of q_graph_triangle_count)
    return (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


# ---------------------------------------------------------------------------
# Triangle counting on the co-purchase graph — the third graph
# archetype next to the degree profile and PageRank: triangles measure
# how clique-like the co-purchase structure is (recommender
# neighborhoods, bundle detection). Scale shape is the Schank/Wagner
# degree-ordered orientation: every edge points from its lower-
# (degree, id) endpoint to the higher one, so each triangle is counted
# EXACTLY once and the wedge fan-out per node is bounded by its
# oriented out-degree (<= sqrt(2m) on any graph) — the all-orders pair
# expansion per order is bounded by order width, wedges close against
# the canonical (min, max) edge set via ONE hash equi-join, and nothing
# quadratic in |parts| ever forms. All counts are exact integers;
# transitivity is the single IEEE division 3*triangles / wedges.
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = f"""
WITH {_COPURCHASE_CTE_SQL},
o AS (
  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
wedge AS (
  SELECT a.s AS x, least(a.t, b.t) AS y, greatest(a.t, b.t) AS z
  FROM o a JOIN o b ON a.s = b.s AND a.t < b.t
),
tri AS (SELECT w.x, w.y, w.z FROM wedge w JOIN e ON e.u = w.y AND e.v = w.z),
node_tri AS (
  SELECT node, count(*) AS n_tri
  FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY 1
),
gstats AS (
  SELECT (SELECT count(*) FROM deg) AS n_nodes,
         (SELECT count(*) FROM e) AS n_edges,
         (SELECT coalesce(CAST(sum((d * (d - 1)) // 2) AS BIGINT), 0)
          FROM deg) AS n_wedges,
         (SELECT count(*) FROM tri) AS n_triangles
)
SELECT CAST(rank AS BIGINT) AS rank, CAST(node AS BIGINT) AS part_key,
       CAST(n_tri AS BIGINT) AS n_tri,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_wedges AS BIGINT) AS n_wedges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       CAST(3 * n_triangles AS DOUBLE) / n_wedges AS transitivity
FROM (
  SELECT node, n_tri,
         row_number() OVER (ORDER BY n_tri DESC, node) AS rank
  FROM node_tri
) CROSS JOIN gstats
WHERE rank <= 5
ORDER BY rank
"""


@query("q_graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The edge set is referenced SIX times downstream (degrees,
    # orientation join x2, wedge closure, plus the whole pipeline again
    # under glob/ranked); exchange reuse does not dedup across the
    # differently-keyed aggregations, so the lineitem-distinct-self-join
    # subtree executed up to 6x per run (36 scans / 110 Exchanges in the
    # static plan). The support floor makes e the SMALL decision table
    # (guide §8: decide with small rows) — materializing it once with
    # localCheckpoint truncates the plan (guide §3.3) so everything
    # downstream is edge-cardinality work over one in-memory relation,
    # recomputed from parquet on every invocation (nothing persists
    # across runs). Checkpointed frame: the support-floored edge set —
    # bounded well below the raw co-purchase pairs. Round-15 honest A/B
    # (full recompute per rep): keep 1.75 s vs revert 1.69 s — a wash
    # locally; KEPT for the at-scale plan-dedup (6 downstream
    # re-derivations of the edge set collapse to 1).
    e = _copurchase_edges(spark, sf_dir).transform(materialize)
    deg = _copurchase_degrees(e)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    # degree-ordered orientation: lower (degree, id) -> higher; the
    # degree table is node-cardinality — not provably bounded on a
    # general graph, so no forced broadcast: AQE picks the strategy
    # from the measured size at runtime
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    # wedges via ONE grouped pass instead of a self-join of o: the
    # self-join form embedded TWO copies of the whole orientation
    # subtree (e + 2 degree joins = 6 scans each) in the plan; grouping
    # the oriented out-neighbors per source and exploding the sorted
    # pairs embeds ONE. Per-group state is bounded by the oriented
    # out-degree (<= sqrt(2m) under the degree orientation — the same
    # bound that caps the join's fan-out), so collect_list is safe at
    # any graph scale. The array arrives sorted ascending, so pair
    # (ts[i], ts[j]) with i < j IS (least, greatest) — no extra
    # normalization (round-14 plan-dedup, step 2).
    grouped = o.groupBy("s").agg(F.sort_array(F.collect_list("t")).alias("ts"))
    wedge = (
        grouped.select(
            F.col("s").alias("x"),
            F.explode(
                F.flatten(
                    F.transform(
                        "ts",
                        lambda y, i: F.transform(
                            F.slice(
                                F.col("ts"), i + 2, F.size("ts") - i - 1
                            ),
                            lambda z: F.struct(
                                y.alias("y"), z.alias("z")
                            ),
                        ),
                    )
                )
            ).alias("p"),
        )
        .select("x", F.col("p.y").alias("y"), F.col("p.z").alias("z"))
    )
    # wedges close against the CANONICAL (u < v by id) edge set — one
    # hash equi-join, no OR-condition nested loop
    tri = wedge.join(
        e.select(F.col("u").alias("y"), F.col("v").alias("z")), ["y", "z"]
    )
    # explode, not a 3-way unionAll: the union form embeds THREE copies
    # of the whole wedge-closure subtree; the exploded form embeds one
    # (same node multiset — round-14 plan-dedup, see _copurchase_degrees)
    node_tri = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    # global stats from ONE degree pass + ONE node_tri pass via exact
    # integer identities (sum(d) = 2|E|; sum(n_tri) = 3|triangles|,
    # every triangle contributing one count to each of its 3 nodes) —
    # the former shape re-aggregated e and tri as separate subtree
    # copies just to re-count what deg/node_tri already carry
    glob = (
        deg.agg(
            F.count("*").alias("n_nodes"),
            F.expr("sum(d) div 2").alias("n_edges"),
            # d*(d-1) is even, so integer `div` per term is exact and
            # the sum stays in BIGINT — a raw double sum would go
            # order-dependent past 2^53 wedges and break the bitwise
            # hash-compare (the queries/__init__ determinism rule)
            F.sum(F.expr("(d * (d - 1)) div 2")).alias("n_wedges"),
        )
        .crossJoin(
            node_tri.agg(
                F.coalesce(F.expr("sum(n_tri) div 3"), F.lit(0).cast("long"))
                .alias("n_triangles")
            )
        )
        .select(
            "n_nodes",
            F.coalesce("n_edges", F.lit(0).cast("long")).alias("n_edges"),
            F.coalesce("n_wedges", F.lit(0)).alias("n_wedges"),
            "n_triangles",
        )
    )
    # TakeOrderedAndProject cut first; the rank window then runs over
    # exactly 5 rows, never the node domain (the q_agg_cms_heavy_hitters
    # discipline)
    top = node_tri.orderBy(F.desc("n_tri"), "node").limit(5)
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("n_tri"), "node"))
        .cast("long")
        .alias("rank"),
        F.col("node").cast("long").alias("part_key"),
        F.col("n_tri").cast("long").alias("n_tri"),
    )
    return (
        ranked.crossJoin(glob)
        .select(
            "rank",
            "part_key",
            "n_tri",
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                (3 * F.col("n_triangles")).cast("double") / F.col("n_wedges")
            ).alias("transitivity"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Jaccard link prediction on the co-purchase graph — the recommender
# question the triangle structure sets up: for part pairs at
# DISTANCE 2 (a common co-purchase neighbor but no edge),
# score the missing edge by neighbor-set Jaccard |N(x)∩N(z)| /
# |N(x)∪N(z)| (Liben-Nowell & Kleinberg 2003) and emit the top-10
# predicted links. Scale shape: candidate pairs come from the wedge
# join on the SAME bounded support-floored edge set as the triangle
# count (shared _COPURCHASE_CTE_SQL / _copurchase_edges definition —
# never an all-pairs scan of the part domain), common-neighbor counts
# are the wedge groupBy, existing edges are removed with one anti
# join on the canonical pair, and the union size is the inclusion-
# exclusion dx + dz - common (degrees joined, no second neighbor
# expansion). Counts exact integers; the Jaccard is one IEEE division
# computed identically on both engines; ranking is total-ordered by
# (score DESC, x, z).
# ---------------------------------------------------------------------------

_LP_TOP = 10

LINK_PRED_ORACLE = f"""
WITH {_COPURCHASE_CTE_SQL},
nbr AS (
  SELECT u AS node, v AS nb FROM e
  UNION ALL SELECT v AS node, u AS nb FROM e
),
cand AS (
  SELECT least(a.node, b.node) AS x, greatest(a.node, b.node) AS z,
         count(*) AS common
  FROM nbr a JOIN nbr b
    ON a.nb = b.nb AND a.node < b.node
  GROUP BY 1, 2
),
new_pairs AS (
  SELECT c.x, c.z, c.common
  FROM cand c LEFT JOIN e ON e.u = c.x AND e.v = c.z
  WHERE e.u IS NULL
),
scored AS (
  SELECT p.x, p.z,
         CAST(p.common AS BIGINT) AS common,
         CAST(dx.d + dz.d - p.common AS BIGINT) AS unions,
         CAST(p.common AS DOUBLE) / (dx.d + dz.d - p.common) AS jaccard
  FROM new_pairs p
  JOIN deg dx ON dx.node = p.x
  JOIN deg dz ON dz.node = p.z
)
SELECT CAST(rank AS BIGINT) AS rank, CAST(x AS BIGINT) AS part_a,
       CAST(z AS BIGINT) AS part_b, common, unions, jaccard
FROM (
  SELECT x, z, common, unions, jaccard,
         row_number() OVER (ORDER BY jaccard DESC, x, z) AS rank
  FROM scored
) WHERE rank <= {_LP_TOP}
ORDER BY rank
"""


@query("q_graph_link_prediction", oracle=LINK_PRED_ORACLE)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir)
    deg = _copurchase_degrees(e)
    nbr = e.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nb"))
    )
    na = nbr.select(F.col("node").alias("xa"), "nb")
    nb_ = nbr.select(F.col("node").alias("xb"), "nb")
    cand = (
        na.join(nb_, "nb")
        .filter(F.col("xa") < F.col("xb"))
        .groupBy(
            F.least("xa", "xb").alias("x"), F.greatest("xa", "xb").alias("z")
        )
        .agg(F.count("*").alias("common"))
    )
    new_pairs = cand.join(
        e.select(F.col("u").alias("x"), F.col("v").alias("z")),
        ["x", "z"],
        "left_anti",
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dz = deg.select(F.col("node").alias("z"), F.col("d").alias("dz"))
    scored = (
        new_pairs.join(dx, "x")
        .join(dz, "z")
        .select(
            "x",
            "z",
            F.col("common").cast("long").alias("common"),
            (F.col("dx") + F.col("dz") - F.col("common"))
            .cast("long")
            .alias("unions"),
            (
                F.col("common").cast("double")
                / (F.col("dx") + F.col("dz") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    return (
        scored.select(
            F.row_number()
            .over(Window.orderBy(F.desc("jaccard"), "x", "z"))
            .cast("long")
            .alias("rank"),
            F.col("x").cast("long").alias("part_a"),
            F.col("z").cast("long").alias("part_b"),
            "common",
            "unions",
            "jaccard",
        )
        .filter(F.col("rank") <= _LP_TOP)
        .orderBy("rank")
    )
