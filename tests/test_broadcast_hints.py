"""Structural sweep: every forced-broadcast hint must target a frame
that is provably bounded — never one that grows with the data.

The repo re-learned this lesson twice the hard way: the unigram/bigram
LM scorers force-broadcast their corpus-derived vocabulary tables
(fixed round 7, llm/text.py), and q_basket_association_rules
force-broadcast its frequent-item table (fixed round 8,
queries/joins.py). A hint is a promise to the planner that the frame
fits in executor memory AT ANY SCALE; AQE already broadcasts small
frames without one, so the only thing a hint on a scale-growing frame
buys is an OOM at 100 TB. This test pins the rule for all registered
queries at once instead of one plan pin per incident.

Mechanically: walk each query's ANALYZED logical plan (hints are erased
by the optimizer once applied, so the analyzed plan is the only place
the full inventory is visible), find every ResolvedHint, and classify
the hinted subtree by walking its spine through row-preserving
operators (Project/Filter/Sort/...):

- bounded: a global (no-grouping-key) Aggregate (<= 1 row), a
  GlobalLimit, a LocalRelation/Range literal, a driver-materialized
  LogicalRDD (its creation already collected, so boundedness was
  enforced upstream — the graphs.py / kmeans.py pattern), or a scan of
  a DOMAIN-bounded dimension (nation: 25 rows, region: 5 rows, fixed
  by the data model at every scale factor).
- anything else (grouped aggregate, join, dedup, scan of a fact table)
  needs an entry in ALLOWED_UNBOUNDED below with a boundedness
  justification, reviewed when the query is added or changed.

The allowlist pins the EXACT hint inventory per query, so adding a new
forced broadcast to an allowlisted query still fails until the new
hint's boundedness argument is written down here.
"""

from __future__ import annotations

from oraaud_kafka_spark import registry

from .conftest import SF_DIR

# Domain-bounded dimensions, identified by their first scan column:
# nation (25 rows) and region (5 rows) are constants of the data model.
_BOUNDED_FIRST_COLS = ("r_regionkey", "n_nationkey")

# Unary operators that cannot increase the row bound of their child.
_ROW_PRESERVING = {
    "Project",
    "Filter",
    "Sort",
    "RepartitionByExpression",
    "Repartition",
    "SubqueryAlias",
    "Window",
    "WithColumns",
}

# query name -> sorted hint-subtree classifications that are unbounded
# by the mechanical rule but bounded by construction. Every entry MUST
# say why the hinted frame cannot grow with the data.
ALLOWED_UNBOUNDED: dict[str, tuple[str, ...]] = {
    # Per-embedding-dimension stats table: grouping key is the dim
    # index, bounded by the (constant) embedding dimensionality.
    "q_emb_whiten_apply": ("grouped-agg",),
    # Hour-bucket offset table: bounded by distinct hours in the time
    # domain, never by event rows (the segmented prefix-sum design).
    "q_events_concurrency": ("grouped-agg", "grouped-agg"),
    # Month-bucket running-peak offsets: bounded by the priority x
    # month domain (~5 x 84 rows for the 7-year order span), never by
    # order rows (same segmented prefix-scan design, round-10 re-shape).
    "q_window_max_drawdown": ("grouped-agg",),
    # Quantile-bucket offset table and per-dimension totals of the
    # fused exact-ntile machinery: grouping keys are (dim, bucket) and
    # dim — bounded by dims x (n_buckets+2) and by the dimension count
    # respectively, never by user rows.
    "q_events_rfm": ("grouped-agg",) * 2,
    # Nation-keyed revenue totals and HHI term sums: grouping key is
    # c_nationkey, bounded by the 25-nation data-model domain.
    "q_agg_hhi_concentration": ("grouped-agg",) * 2,
    # Per-source token totals: bounded by the source-label domain.
    "q_text_source_jsd": ("grouped-agg",) * 4,
    # Per-event-type robust stats: bounded by the event-type domain.
    "q_events_zscore_outliers": ("grouped-agg",),
    "q_events_anomaly_mad": ("grouped-agg",) * 3,
    # Per-cohort-day sizes: bounded by the date domain.
    "q_events_cohort_share": ("grouped-agg",),
    # Benchmark shingle set: bounded by the (user-provided, small by
    # nature) decontamination benchmark suite, not the corpus.
    "q_decontaminate": ("Deduplicate",),
    # Query / anchor / centroid frames in the ANN + eval surface: all
    # k-bounded by construction (vec_id < k slices, LIMIT k anchors,
    # k-means centroids, nq x nprobe probe tables) — the corpus side of
    # each of these joins is never the hinted side.
    "q_sim_cosine_topk_brute": ("scan-vec_id",),
    "q_sim_lsh_bucketed_topk": ("scan-vec_id",) * 2,
    "q_sim_ivf_topk": ("Join", "scan-vec_id", "scan-vec_id"),
    "q_sim_ivf_kmeans_topk": ("Join",) * 4 + ("scan-vec_id",),
    "q_sim_mips_augmented": ("scan-vec_id",),
    "q_sim_knn_eval": ("scan-vec_id",),
    # the 24 SRP anchors are the vec_id < B*r slice of the embeddings
    # scan — k-bounded by construction like the similarity family
    # above; the hint appears once per branch of the triangle self-join
    # (same doubling as the lsh_bucketed entry)
    "q_sim_range_search_eval": ("scan-vec_id",) * 2,
    "q_rag_retrieve_enrich": ("Join", "scan-vec_id"),
    "q_dedup_semantic": ("scan-vec_id",) * 3,
    "q_eval_ndcg_retrieval": ("scan-vec_id",),
    "q_eval_mrr_retrieval": ("scan-vec_id",),
}


def _children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.length())]


def _find_hints(node, acc):
    if node.nodeName() == "ResolvedHint":
        acc.append(node)
    for c in _children(node):
        _find_hints(c, acc)


def _classify(node) -> str:
    """Walk the hinted subtree's spine; return 'bounded:*' or the
    operator class that breaks the bound proof."""
    while True:
        nn = node.nodeName()
        if nn == "Aggregate":
            if node.groupingExpressions().isEmpty():
                return "bounded:global-agg"
            return "grouped-agg"
        if nn == "GlobalLimit":
            return "bounded:limit"
        if nn in ("LocalRelation", "OneRowRelation", "Range", "LogicalRDD"):
            return "bounded:local"
        if nn == "LogicalRelation":
            first = node.output().apply(0).name()
            if first in _BOUNDED_FIRST_COLS:
                return f"bounded:dim-{first}"
            return f"scan-{first}"
        if nn in _ROW_PRESERVING and node.children().length() == 1:
            node = node.children().apply(0)
            continue
        if nn == "Generate" and node.children().length() == 1:
            # Generate amplifies rows only by its generator: over a
            # literal array (the F.inline(F.array(*lits)) pattern that
            # replaced pickled-RDD driver frames) the amplification is
            # the literal's length — bounded; over a data column the
            # CHILD is a scan/join and classifies (and flags) itself
            node = node.children().apply(0)
            continue
        return nn


def _all_query_frames(spark):
    # Build past the registry memo: a plan built with
    # SPARK_GRAFT_PLAN_TRANSPARENT set runs no checkpoint job, so the
    # memo would keep it and serve it to every later test.
    for name, fn in registry.all_queries().items():
        yield name, fn.__wrapped__(spark, SF_DIR)


def test_no_forced_broadcast_of_scale_growing_frames(spark, monkeypatch):
    # See through tables.materialize (round-14): an eager localCheckpoint
    # replaces its lineage with a LogicalRDD leaf, hiding any hints below
    # it from the analyzed plan — the audit must keep seeing the FULL
    # hint inventory (q_dedup_semantic / q_sim_range_search_eval hints
    # sit below their materialization points).
    monkeypatch.setenv("SPARK_GRAFT_PLAN_TRANSPARENT", "1")
    violations: dict[str, list[str]] = {}
    stale = set(ALLOWED_UNBOUNDED)
    for name, df in _all_query_frames(spark):
        hints: list = []
        _find_hints(df._jdf.queryExecution().analyzed(), hints)
        kinds = sorted(
            k
            for k in (_classify(_children(h)[0]) for h in hints)
            if not k.startswith("bounded:")
        )
        if not kinds:
            continue
        allowed = ALLOWED_UNBOUNDED.get(name)
        if allowed is not None and kinds == sorted(allowed):
            stale.discard(name)
            continue
        violations[name] = kinds
    assert not violations, (
        "forced-broadcast hints on frames not provably bounded (add a "
        f"justified ALLOWED_UNBOUNDED entry or drop the hint): {violations}"
    )
    assert not stale, (
        "ALLOWED_UNBOUNDED entries no longer matching any hint (remove "
        f"them so the inventory stays exact): {sorted(stale)}"
    )
