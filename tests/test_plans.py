"""Physical-plan assertions (the 100-TB contract): filters and column
pruning reach the parquet scan, small dimensions broadcast, global top-k
never fully sorts, and the hot path stays inside whole-stage codegen.
These pin the plan SHAPE so a regression that still returns correct rows
but would melt at scale fails CI.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from oraaud_kafka_spark import registry
from oraaud_kafka_spark.tables import load

from .conftest import SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _loaded():
    registry.load_all()


@pytest.fixture
def transparent(monkeypatch):
    """See through tables.materialize: round-14 materializes multiply-
    referenced intermediates with eager localCheckpoint, which replaces
    the lineage below it with a Scan ExistingRDD leaf — hiding exactly
    the shape these pins exist to protect. Setting the flag makes
    materialize a no-op at DataFrame CONSTRUCTION time, so pins assert
    on the full logical shape that executes below the checkpoint in
    production."""
    monkeypatch.setenv("SPARK_GRAFT_PLAN_TRANSPARENT", "1")


def _plan(df, execute: bool = False) -> str:
    if execute:
        # AQE finalizes join strategies / codegen stages only at runtime;
        # collect() (not count(), which plans a different query) runs THIS
        # QueryExecution so its adaptive plan mutates to final
        df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Once executed, the finalized AdaptiveSparkPlan prints the final
    # plan AND an "== Initial Plan ==" section, duplicating every
    # operator line and breaking count-based pins. Keep the final plan.
    return plan.split("== Initial Plan ==")[0]


def test_pricing_pushdown_and_pruning(spark):
    df = registry.QUERIES["q1_pricing_summary"](spark, SF_DIR)
    plan = _plan(df)
    # shipdate predicate reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched wide columns (l_comment) never read
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_quantity" in read_schema


def test_star_join_broadcasts_dims(spark):
    df = registry.QUERIES["q_join_5way_revenue"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    # all three dimensions broadcast (AQE may also demote the filtered
    # orders join to broadcast at tiny SF); never more than the one
    # lineitem-orders shuffle join
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_global_topk_is_take_ordered(spark):
    df = registry.QUERIES["q_sort_top10_global"](spark, SF_DIR)
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    # heap + merge), never a global Sort
    assert "TakeOrderedAndProject" in _plan(df)


def test_agg_has_partial_final_split(spark):
    df = registry.QUERIES["q1_pricing_summary"](spark, SF_DIR)
    plan = _plan(df)
    # map-side combine: partial_ aggregate before the exchange
    assert "partial_" in plan


def test_hot_path_whole_stage_codegen(spark):
    df = registry.QUERIES["q1_pricing_summary"](spark, SF_DIR)
    # '*(n)' prefixes mark WholeStageCodegen stages in the final plan
    assert "*(1)" in _plan(df, execute=True)


def test_semi_join_does_not_materialize_right(spark):
    df = registry.QUERIES["q_join_left_semi"](spark, SF_DIR)
    assert "LeftSemi" in _plan(df)


def test_asof_join_is_single_window_no_join(spark, transparent):
    df = registry.QUERIES["q_join_asof"](spark, SF_DIR)
    plan = _plan(df)
    # the as-of is union + window — any Join node means the quadratic
    # fallback crept back in
    assert "Join" not in plan
    assert "Window" in plan


def test_minhash_signatures_computed_in_projection(spark):
    df = registry.QUERIES["q_dedup_minhash_lsh"](spark, SF_DIR)
    plan = _plan(df)
    # signatures are array_min(transform(...)) per document — a pure
    # projection, so there is NO min() aggregate anywhere in the plan and
    # shingle rows are never materialized; the only aggregate left is the
    # final pair-distinct
    assert "partial_min" not in plan
    assert "array_min" in plan


def test_brute_force_knn_broadcasts_queries(spark):
    df = registry.QUERIES["q_sim_cosine_topk_brute"](spark, SF_DIR)
    plan = _plan(df)
    # query side broadcast: corpus never shuffles for scoring
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_filter_pushdown_on_events_json_path(spark):
    e = load(spark, SF_DIR, "events").filter(F.col("event_type") == "click")
    plan = _plan(e)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan


def test_split_assignment_is_map_only_before_audit_agg(spark):
    # the split expression must be computed on the scan output with no
    # exchange before the (tiny) audit aggregation's partial side, and
    # only the bare columns it needs may be read
    df = registry.QUERIES["q_split_train_val_test"](spark, SF_DIR)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "text" not in read_schema  # document bodies never read
    assert "partial_count" in plan or "partial" in plan.lower()


def test_centroids_partial_aggregate_before_exchange(spark):
    # per-dimension sums must combine map-side: shuffle width is then
    # n_labels x n_dims regardless of corpus size
    df = registry.QUERIES["q_emb_centroids"](spark, SF_DIR)
    plan = _plan(df)
    partial_idx = plan.find("HashAggregate")
    exchange_idx = plan.find("Exchange")
    assert partial_idx != -1 and exchange_idx != -1
    # the plan string prints top-down: final agg, exchange, partial agg —
    # a partial HashAggregate must appear BELOW (after) the exchange
    assert "HashAggregate" in plan[exchange_idx:]


def test_sample_stratified_no_preorder_shuffle(spark):
    """Hash sampling is a pure scan-filter before its output sort: exactly
    one Exchange (the deterministic ORDER BY), nothing upstream of it."""
    df = registry.QUERIES["q_sample_stratified"].__wrapped__(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange") == 1


def test_profile_table_no_expand_and_column_pruned_scans(spark):
    """Round-15 shape: NO Expand anywhere (the old single-agg
    multi-distinct replicated every input row n_cols+1 times
    pre-shuffle), one plain stats pass plus one dedup-then-count leg
    per profiled column. The extra scans are column-pruned — each
    distinct leg reads exactly its own column, so total bytes read stay
    ~2x the profiled columns, not n_cols full passes (and the legs run
    as independent back-fillable jobs, guide §2.6). Measured 0.92 s ->
    0.50 s at sf0.1."""
    df = registry.QUERIES["q_profile_table"].__wrapped__(spark, SF_DIR)
    plan = _plan(df)
    assert "Expand" not in plan
    from oraaud_kafka_spark.queries.reshape import _PROFILE_COLS

    assert plan.count("Scan parquet") == 1 + len(_PROFILE_COLS)
    # every distinct-leg scan is pruned to a single column
    import re

    single_col = [
        m for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        if m.count(":") == 1
    ]
    assert len(single_col) >= len(_PROFILE_COLS), plan[:2000]


def test_pack_chunked_single_scan_single_window(spark):
    df = registry.QUERIES["q_pack_chunked"].__wrapped__(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Window") == 1


def test_triangle_jaccard_no_cartesian(spark):
    """The decomposed pair join must stay an equi-join on (block, cell):
    no BroadcastNestedLoopJoin / CartesianProduct anywhere."""
    df = registry.QUERIES["q_dedup_ngram_jaccard"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_profile_approx_has_no_expand(spark):
    """The production approximate profile must be one plain hash
    aggregate: HLL++ sketches instead of exact multi-distinct, so no
    Expand node (which would replicate every input row n_cols+1 times
    pre-shuffle on a 100 TB scan)."""
    from oraaud_kafka_spark.queries.reshape import _PROFILE_COLS, profile_approx

    li = load(spark, SF_DIR, "lineitem")
    plan = _plan(profile_approx(li, _PROFILE_COLS))
    assert "Expand" not in plan
    assert plan.count("Scan parquet") == 1


def test_semantic_dedup_pair_join_triangle_blocked(spark):
    """q_dedup_semantic's within-cluster pair join must be sub-blocked
    via the triangle decomposition (join key carries the __cell grid
    cell next to cid), so one oversized cluster cannot concentrate
    w^2 pair comparisons on a single task. The only nested-loop join
    allowed is the broadcast centroid-assignment cross join."""
    import re

    df = registry.QUERIES["q_dedup_semantic"].__wrapped__(spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "CartesianProduct" not in plan
    # the pair join must be an equi-join keyed on (cid, __cell)
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[cid#\d+L?, __cell#\d+",
        plan,
    ), plan
    # nested-loop joins may appear ONLY as the broadcast centroid
    # assignment (a Cross build); the pair join must never be one
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line


def test_kmeans_assignment_in_projection(spark):
    """nearest_centroid must be a pure projection: assigning 100 TB of
    vectors to centroids needs zero shuffles and no UDF."""
    from oraaud_kafka_spark.operators.kmeans import nearest_centroid

    e = load(spark, SF_DIR, "embeddings")
    cents = [(0, [1.0] * 64), (1, [-1.0] * 64)]
    df = e.select(nearest_centroid(F.col("embedding"), cents))
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDF eval nodes


def _final(plan: str) -> str:
    """AQE prints Final + Initial; scale assertions bind to the FINAL plan."""
    return plan.split("== Initial Plan ==")[0]


def test_tfidf_output_filter_pushed_into_tf_branch(spark):
    """The doc_id < 100 output filter must prune through window + join
    into the tf branch's parquet scan, while the document-frequency
    branch stays corpus-global — the tf side reads only requested docs."""
    df = registry.QUERIES["q_text_tfidf_topk"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert "LessThan(doc_id,100)" in plan
    assert plan.count("Generate explode") == 2  # filtered tf + global df
    assert "CartesianProduct" not in plan


def test_heavy_hitters_single_pass_topk(spark):
    df = registry.QUERIES["q_text_heavy_hitters"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert plan.count("Generate explode") == 1
    assert "ReusedExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_pack_strided_map_side_only(spark):
    """Window generation is pure per-row array math: no hash exchange, no
    join, no aggregate anywhere before the output sort."""
    df = registry.QUERIES["q_pack_strided"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_zscore_stats_broadcast_back(spark):
    """The 5-row per-type stats table broadcasts; the event scan never
    shuffles on the join key."""
    df = registry.QUERIES["q_events_zscore_outliers"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_span_dedup_hash_keyed_no_cartesian(spark):
    df = registry.QUERIES["q_dedup_span_c4"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_null_safe_join_is_hash_join(spark):
    """eqNullSafe must plan as an equi hash join on the null-wrapped key,
    never a nested loop."""
    df = registry.QUERIES["q_join_null_safe"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_match_blocked_not_cartesian(spark):
    """Levenshtein candidates come from the nation-block equi-join; the
    quadratic matcher never sees an unblocked cross product."""
    df = registry.QUERIES["q_join_fuzzy_levenshtein"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rag_enrich_broadcasts_hit_set(spark):
    """The k x |Q| retrieval result broadcasts into the documents join —
    the corpus/doc tables are probed, never shuffled."""
    df = registry.QUERIES["q_rag_retrieve_enrich"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_corpus_overlap_joins_on_span_hash(spark):
    """Overlap matrix self-join keys on the 16-byte span hash with a
    distinct projection below it — no cartesian, no doc bodies in the
    join input."""
    df = registry.QUERIES["q_corpus_overlap_matrix"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "span_hash" in plan


def test_cluster_sizes_two_partial_aggs(spark):
    df = registry.QUERIES["q_dedup_cluster_sizes"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert plan.count("partial_count") >= 2  # both groupBys map-side combine
    assert "Join" not in plan


def test_funnel_single_pass_one_shuffle_one_scan(spark):
    """The fold-based funnel must keep its defining property: one event
    scan, one hash exchange — versus the staged variant's per-stage
    scans and shuffles."""
    df = registry.QUERIES["q_events_funnel_single_pass"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_crosstab_margins_single_scan(spark):
    df = registry.QUERIES["q_crosstab_margins"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "partial_count" in plan


def test_session_stats_native_session_window(spark):
    df = registry.QUERIES["q_time_session_stats"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert "SessionWindow" in plan or "session_window" in plan
    assert "Join" not in plan


def test_funnel_window_one_shuffle_one_scan(spark):
    df = registry.QUERIES["q_events_funnel_window"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_containment_pair_join_triangle_blocked(spark):
    """q_dedup_containment's pair join must be an equi-join keyed on the
    (lang, mh1, __cell) blocking triple — never a cartesian — so one hot
    min-shingle block cannot land w^2 comparisons on a single task."""
    import re

    df = registry.QUERIES["q_dedup_containment"].__wrapped__(spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[lang#\d+, mh1#\d+L?, __cell#\d+",
        plan,
    ), plan


def test_bpe_apply_merge_top1_broadcast_no_collect(spark, transparent):
    """The winning merge pair must enter the rewrite as a broadcast
    (1-row side of a BroadcastNestedLoopJoin Cross) and the candidate
    ranking as TakeOrderedAndProject — no global sort, no driver-side
    collect baked into the plan."""
    df = registry.QUERIES["q_text_bpe_apply_merge"].__wrapped__(spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "TakeOrderedAndProject" in plan
    nested = [
        line for line in plan.splitlines() if "BroadcastNestedLoopJoin" in line
    ]
    assert nested and all("Cross" in line for line in nested), plan


def test_shuffle_deterministic_single_hash_shuffle(spark):
    """Sharding must be ONE hash exchange on shard + per-shard sort;
    the only range exchange allowed is the final presentation ORDER BY."""
    df = registry.QUERIES["q_corpus_shuffle_deterministic"].__wrapped__(
        spark, SF_DIR
    )
    plan = _final(_plan(df))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange rangepartitioning") <= 1


def test_tpch_q10_take_ordered_and_dims_broadcast(spark):
    """Q10's top-20 must plan as TakeOrderedAndProject (per-partition
    heaps, never a global sort) with customer/nation broadcast."""
    df = registry.QUERIES["q_tpch_q10"].__wrapped__(spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange rangepartitioning" not in _final(plan)


def test_tpch_q4_semi_join(spark):
    """The EXISTS must be a LEFT SEMI join: lineitem can never multiply
    order rows into the aggregate."""
    df = registry.QUERIES["q_tpch_q4"].__wrapped__(spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "LeftSemi" in plan


def test_tpch_q21_single_lineitem_flagging_pass(spark):
    """The EXISTS/NOT-EXISTS pair must come from ONE aggregated
    order-stats branch joined back — the plan reads lineitem at most
    twice (flagging + stats), never the 3x of correlated rewrites."""
    df = registry.QUERIES["q_tpch_q21"].__wrapped__(spark, SF_DIR)
    plan = _final(_plan(df, execute=True))
    assert plan.count("Scan parquet") <= 5  # lineitem x2, orders x2, supplier


def test_partitioned_write_prunes_partitions_statically(spark, tmp_path):
    """SCALE.md's 'partition pruning comes free once tables are
    date-partitioned' claim, evidenced: a day-partitioned write + an
    equality filter on the partition column plans a scan whose
    PartitionFilters carry the predicate and whose selected partition
    count is 1 — the scan never touches the other days' files."""
    from oraaud_kafka_spark.tables import load

    fact = load(spark, SF_DIR, "events").withColumn("day", F.to_date("ts"))
    out = str(tmp_path / "fact")
    fact.write.partitionBy("day").parquet(out)
    one_day = fact.select("day").first()[0]
    q = (
        spark.read.parquet(out)
        .filter(F.col("day") == F.lit(one_day))
        .groupBy("event_type")
        .count()
    )
    plan = _plan(q)
    scan_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert f"{one_day}" in scan_line or "isnotnull(day" in scan_line
    # the physical scan reports how many partition dirs survived pruning
    n_total = fact.select("day").distinct().count()
    assert n_total > 1
    sel = [l for l in plan.splitlines() if "SelectedBucketsCount" in l or "PartitionCount" in l]
    if sel:  # file-index line present: exactly one day selected
        assert "PartitionCount: 1" in sel[0] or "partitions=1" in sel[0], sel[0]
    # behavioral proof regardless of plan-text format: row count matches
    # only that day's rows
    expect = fact.filter(F.col("day") == F.lit(one_day)).count()
    assert q.agg(F.sum("count")).first()[0] == expect


def test_lm_scorers_never_force_broadcast_corpus_vocab(spark):
    """The LM scorers' vocab / unigram-context tables are CORPUS-DERIVED
    and unbounded on raw web text (pre-tokenizer Heaps' law), so their
    scoring joins must carry no broadcast hint — AQE chooses from the
    built size instead, and the safe fallback is a shuffle hash join.
    Only the 1-row scalar (corpus total / vocab size V) may keep a hint.
    A re-added F.broadcast(vocab) would pass every value test and OOM a
    1000-executor run, so the hint count is pinned at the logical plan."""
    for name in ("q_text_unigram_logprob", "q_text_ccnet_tiers",
                 "q_text_bigram_logprob", "q_text_source_kl"):
        df = registry.QUERIES[name](spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        hints = analyzed.count("ResolvedHint")
        assert hints == 1, (
            f"{name}: expected exactly the scalar broadcast hint, "
            f"found {hints}"
        )


def test_basket_rules_never_force_broadcast_frequent_items(spark):
    """The Apriori frequent-item table is CORPUS-DERIVED (it grows with
    the part catalog once most parts clear the floor), so the fitems /
    fa / fb joins must carry no broadcast hint — AQE decides from built
    sizes. Only the 1-row basket-count aggregate keeps its hint. Same
    contract as the LM scorers' vocab joins."""
    df = registry.QUERIES["q_basket_association_rules"](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    lines = analyzed.splitlines()
    hint_idx = [i for i, l in enumerate(lines) if "ResolvedHint" in l]
    assert hint_idx, "the 1-row basket-count hint disappeared entirely"
    # the hinted n_b aggregate appears once per lineage copy (floor +
    # fitems/fa/fb re-derivations + ratio denominators) — every single
    # hint must wrap the 1-row count-distinct aggregate, never freq
    for i in hint_idx:
        child = lines[i + 1]
        assert "Aggregate" in child and "count(distinct l_orderkey" in child, (
            f"broadcast hint on a corpus-derived table: {child}"
        )


def test_whiten_apply_broadcasts_dim_stats(spark):
    """The n_dims-row stats table is bounded by the MODEL dimension (a
    constant), so it must broadcast onto the component stream — the
    whitening pass adds no shuffle beyond the stats aggregate itself."""
    df = registry.QUERIES["q_emb_whiten_apply"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_holt_trend_single_shuffle_no_window(spark):
    """Holt is ONE groupBy(user_id) with an in-array fold — no window
    exchange, no second shuffle (the q_time_ewma_level discipline)."""
    df = registry.QUERIES["q_time_holt_trend"](spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan
    # one aggregate exchange + the final presentation sort only
    agg_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l
    ]
    assert len(agg_exchanges) == 1, agg_exchanges


def test_containment_eval_triangle_blocked(spark):
    """The exhaustive-slice calibration join must still ride the
    triangle decomposition (join key carries the grid cell), never a
    plain per-language self-join that serializes a hot language."""
    import re

    df = registry.QUERIES["q_dedup_containment_eval"](spark, SF_DIR)
    plan = _plan(df)
    assert re.search(r"__cell", plan), "triangle cell key missing from plan"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skew_kurtosis_single_exchange_no_window(spark):
    """Four power sums ride ONE partial-agg'd groupBy — no window, no
    second pass over lineitem."""
    df = registry.QUERIES["q_agg_skew_kurtosis"](spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan
    agg_exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(agg_exchanges) == 1, agg_exchanges


def test_attribution_is_join_free(spark):
    """Conversion instant, both touches, and the credit counts all come
    from windows + aggregates over the SAME user_id partitioning — the
    plan must contain no join operator at all."""
    df = registry.QUERIES["q_events_attribution"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, op


def test_degree_profile_never_rescans_events(spark):
    """Edges materialize once at build time — the final plan must not
    scan events at all (outs/ins/verts run over the literal edge
    table)."""
    df = registry.QUERIES["q_graph_degree_profile"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "Scan parquet" not in plan


def test_pagerank_loop_never_rescans_events(spark):
    """The aggregated edge table is materialized before the power loop
    (one events pass at build time, |types|^2-bounded collect) and the
    iterations run over single-row literal projections — the FINAL plan
    must carry no file scan, no join, and no per-iteration shuffle at
    all (the only exchange allowed is the presentation sort)."""
    df = registry.QUERIES["q_events_pagerank"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "Scan parquet" not in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, op
    assert "Exchange hashpartitioning" not in plan


def test_char_entropy_is_map_only(spark, transparent):
    """The char histogram lives in per-row array expressions — one scan,
    no aggregate exchange anywhere (only the presentation sort)."""
    df = registry.QUERIES["q_text_char_entropy"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Exchange hashpartitioning" not in plan


def test_ols_is_single_partial_agged_pass(spark):
    """Five power sums + count in ONE groupBy: exactly one scan, one
    hash exchange, partial aggregation map-side."""
    df = registry.QUERIES["q_agg_ols_regression"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan


def test_theil_means_join_carries_no_hint(spark):
    """The per-priority means table is bounded by the priority domain
    but still corpus-DERIVED — no forced broadcast; AQE decides."""
    df = registry.QUERIES["q_agg_theil_index"](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_multiband_containment_rides_triangle(spark):
    """Both bands' candidate joins must be triangle-decomposed
    equi-joins (no sort-merge on raw pairs, no cartesian), and the
    pair dedup must appear BEFORE the exact intersection generate."""
    df = registry.QUERIES["q_dedup_containment_multiband"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_readability_is_map_only(spark, transparent):
    """Flesch scoring is pure per-row expression work: one scan, no
    aggregate exchange anywhere (only the presentation sort)."""
    df = registry.QUERIES["q_text_readability"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Exchange hashpartitioning" not in plan


def test_gini_state_is_value_bounded(spark):
    """Exact Gini must collapse rows to (priority, cents) frequencies
    BEFORE ranking — exactly two hash exchanges over one scan, so the
    window runs on the bounded value domain, never per-row."""
    df = registry.QUERIES["q_agg_gini"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 2, ex


def test_basket_pair_join_is_equi(spark):
    """The Apriori pair expansion must be an equi-join on the basket key
    — the only nested-loops allowed are single-row n_baskets scalar
    joins (the relative floor embeds one in the freq lineage, which
    fitems/fa/fb each re-derive; all broadcast exactly 1 row)."""
    df = registry.QUERIES["q_basket_association_rules"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    assert "SortMergeJoin" not in plan or "l_orderkey" in plan


def test_ivf_probe_join_broadcasts_probes(spark):
    """The probe table is bounded by LITERAL constants (N_QUERIES x
    NPROBE rows) and must broadcast onto the inverted lists; without
    the hint AQE sort-merges, which sorts the full corpus-sized list
    side — the round-7 bench drift. Same for the recall check's
    exact-top-k side (<= N_QUERIES*TOP_K rows)."""
    for name in ("q_sim_ivf_topk", "q_sim_ivf_kmeans_topk"):
        df = registry.QUERIES[name](spark, SF_DIR)
        plan = _plan(df, execute=True)
        assert "SortMergeJoin" not in plan, name
        assert "ShuffledHashJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_mips_corpus_never_shuffles(spark):
    """MIPS baseline broadcasts queries + the norm scalar; the corpus
    side must not sort-merge or shuffle-hash join."""
    df = registry.QUERIES["q_sim_mips_augmented"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_ngram_novelty_single_scan(spark):
    """Doc frequency comes from a window over the ngram partitioning,
    so the corpus is scanned and shingled once — a count+join-back
    shape would scan twice for the same shuffle count."""
    df = registry.QUERIES["q_text_ngram_novelty"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 2, ex


def test_seasonal_naive_eval_single_scan(spark):
    """The three-way hourly self-join must be reassembled by the
    explode+regroup rewrite: one raw-event scan, hourly-cardinality
    shuffles only, no join operator."""
    df = registry.QUERIES["q_time_seasonal_naive_eval"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, op


def test_distribution_ranks_one_exchange(spark):
    df = registry.QUERIES["q_window_distribution_ranks"](spark, SF_DIR)
    plan = _plan(df)
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 1, ex


def test_acf_single_scan_no_join(spark):
    """Both lags' hour-exact pairs come from the explode+regroup
    rewrite over ONE hourly collapse — no self-join, one raw scan."""
    df = registry.QUERIES["q_time_autocorrelation"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_trimmed_mean_value_bounded(spark):
    """Like q_agg_gini: frequencies first, windows over DISTINCT values
    only — one scan, two exchanges."""
    df = registry.QUERIES["q_agg_trimmed_mean"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 2, ex


def test_psi_single_scan(spark):
    df = registry.QUERIES["q_quality_psi_drift"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1


def test_concurrency_sweep_is_segmented(spark):
    """The +1/-1 sweep must NOT be a single global ordered window over
    the point stream: the only unpartitioned window may run on the
    bounded hour-bucket offset table. Pin: every Window with an empty
    partition spec sits above the bucket aggregate (totals), i.e. the
    point-stream windows are all partitioned."""
    df = registry.QUERIES["q_events_concurrency"](spark, SF_DIR)
    plan = _plan(df)
    import re

    # unpartitioned windows print as 'Window [...], [bucket ASC ...]'
    # with no 'hashpartitioning' exchange directly beneath carrying ts
    singles = [
        l for l in plan.splitlines()
        if l.strip().startswith("Window") and "user_id" not in l
        and "bucket" not in l
    ]
    assert not singles, singles


def test_auc_rank_state_is_value_bounded(spark):
    """The AUC rank machinery must aggregate rows to the distinct-cent
    domain BEFORE the ordered window (partial agg at scan side), and
    carry no join anywhere."""
    df = registry.QUERIES["q_eval_auc_roc"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "partial_" in plan.lower() or "HashAggregate" in plan


def test_calibration_bins_single_scan_partial_agg(spark):
    """The reliability table is ONE partially-aggregated groupBy over an
    11-value domain: one scan, no join, map-side combine present."""
    df = registry.QUERIES["q_eval_calibration_bins"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_kaplan_meier_single_event_scan(spark):
    """KM reads events exactly ONCE: signup/last via a user-partitioned
    window whose partitioning the min-purchase groupBy reuses, then
    everything downstream runs on the bounded distinct-hour domain; the
    only join is the broadcast of the 1-row total."""
    df = registry.QUERIES["q_events_kaplan_meier"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert plan.count("Scan parquet") == 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total
    assert "SortMergeJoin" not in plan


def test_l_diversity_single_scan_no_join(spark):
    """The corpus total comes from a global window over the bounded
    QI-class table, not a re-derived broadcast: one customer scan, no
    join anywhere."""
    df = registry.QUERIES["q_privacy_l_diversity"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_time_to_convert_single_event_scan(spark):
    """First-signup via a user-partitioned window + a groupBy reusing
    that partitioning: one events scan, no join (the Kaplan-Meier
    shape back-ported to the original conversion-latency query)."""
    df = registry.QUERIES["q_events_time_to_convert"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_k_anonymity_single_scan_no_join(spark):
    """The release-audit total comes from a global window over the
    bounded QI-class table — one customer scan, no broadcast whose
    lineage would re-run the QI aggregate."""
    df = registry.QUERIES["q_privacy_k_anonymity"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_confusion_matrix_map_only_single_scan(spark):
    """The threshold decision compiles to one conditional-sum scan:
    single parquet read, no join, partial aggregation present."""
    df = registry.QUERIES["q_eval_confusion_threshold"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "partial" in plan.lower()


def test_ndcg_broadcasts_queries_not_corpus(spark):
    """The scoring pass must be the broadcast-queries x corpus linear
    scan (same as the brute top-k baseline): the corpus side never
    shuffles for scoring."""
    df = registry.QUERIES["q_eval_ndcg_retrieval"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "BroadcastNestedLoopJoin" in plan


def test_t_closeness_single_scan_no_join(spark):
    """Class, band, and corpus totals all come from windows over the
    bounded (class x band) table: one customer scan, no join, no
    broadcast-total lineage recompute."""
    df = registry.QUERIES["q_privacy_t_closeness"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_pr_auc_value_bounded_no_join(spark):
    """The AP threshold sweep aggregates rows to the distinct-cent
    domain BEFORE the ordered window (same rank discipline as ROC-AUC)
    and carries no join anywhere: one orders scan."""
    df = registry.QUERIES["q_eval_pr_auc"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "partial" in plan.lower() or "HashAggregate" in plan


def test_mrr_broadcasts_queries_not_corpus(spark):
    """MRR reads the identical broadcast-queries x corpus scoring pass
    as NDCG and the brute top-k baseline: the corpus side never
    shuffles for scoring."""
    df = registry.QUERIES["q_eval_mrr_retrieval"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert "BroadcastNestedLoopJoin" in plan


def test_winsorized_mean_value_bounded(spark):
    """Winsorizing happens on the frequency-collapsed value domain:
    rows aggregate to (priority, cents) before any window, clamps come
    from the same single aggregate — one orders scan, no join."""
    df = registry.QUERIES["q_agg_winsorized_mean"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_max_drawdown_segmented_scan_shape(spark):
    """Round-10 re-shape: the running peak segments on (priority,
    month). Pins: the row-cardinality window carries the month bucket
    (never priority alone), the maxima branch is a map-side-combined
    second scan (partial_max — ships only priority x month rows, no
    second full-table sort), and the bounded offsets broadcast back."""
    import re

    df = registry.QUERIES["q_window_max_drawdown"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert plan.count("Scan parquet") == 2
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        if "o_orderdate" in spec:
            assert "bucket" in spec, f"priority-only window: {spec}"
    assert "partial_max" in plan  # maxima branch combines map-side
    assert "BroadcastHashJoin" in plan


def test_late_data_segmented_no_event_cardinality_global_window(spark):
    """Round-10 re-shape: the running max over the event_id order is
    the two-level segmented prefix max. Pins: TWO events scans (the
    window pass + the map-side-combined bucket-maxima pass — no second
    full-table sort), the event-cardinality window partitioned by the
    event_id bucket, and at most one single-partition exchange (the
    bounded superbucket level) in the whole plan."""
    import re

    df = registry.QUERIES["q_time_late_data"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    assert plan.count("Scan parquet") == 2
    # the event-cardinality window exchange carries the bucket key
    # (the shared helper partitions on (sbucket, bucket))
    assert re.search(r"hashpartitioning\([^)]*bucket", plan)
    assert "partial_max" in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_rfm_no_global_row_windows(spark):
    """Round-10 re-shape: all three ntile(5) scores come from ONE
    fused melted pass of the range-bucketed exact rank. Pins: the
    row-cardinality window partitions on (dim, quantile bucket), no
    ntile node exists anywhere, and no SinglePartition exchange feeds
    a row-cardinality operator (the offsets window partitions on dim)."""
    df = registry.QUERIES["q_events_rfm"](spark, SF_DIR)
    plan = _plan(df, execute=True)
    import re

    assert "hashpartitioning(dim" in plan
    # the previous shape had three unpartitioned ntile windows =
    # three single-partition sorts over the whole user table; word-
    # boundary match so 'percentile'/'quantile' expressions never
    # false-trip this pin
    assert not re.search(r"\bntile\(", plan)
    # the one allowed SinglePartition exchange is the now_ts global
    # max(ts) scalar (partial-agg'd, one row) — never a row sort
    assert plan.count("Exchange SinglePartition") <= 1


def test_burst_detection_windows_over_buckets_only(spark):
    """Raw events collapse to hourly buckets in a partially-aggregated
    groupBy BEFORE both windows (baseline + ranking) — one events scan,
    no join, and the first aggregate keeps map-side combine."""
    df = registry.QUERIES["q_time_burst_detection"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Window [") == 2  # baseline frame + top-5 ranking
    # both windows share the event_type partitioning (one exchange) and
    # the top-5 cut is pushed into the sort as a WindowGroupLimit
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan
    assert "partial" in plan.lower()


def test_interval_latency_is_equi_join_with_pushed_type_filters(spark):
    """The interval join must plan as a HASH join on user_id with the
    time bound as a post-condition — never a nested-loop/cartesian pair
    expansion — and the event_type split must reach both parquet scans
    as pushed filters (at 100 TB each side reads ~1/5 of the table)."""
    df = registry.QUERIES["q_time_interval_latency"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters: [" in ln
    ]
    assert sum("EqualTo(event_type,click)" in ln for ln in pushed) == 1
    assert sum("EqualTo(event_type,purchase)" in ln for ln in pushed) == 1
    # hourly rollup keeps map-side combine
    assert "partial_" in plan


def test_kll_rollup_sketch_aggs_are_partial(spark):
    """The mergeable-quantile rollup's scale story: BOTH sketch levels
    partial-aggregate (per-cell build and flag-level merge), so the
    shuffles carry tiny binary sketches, never value rows."""
    df = registry.QUERIES["q_agg_kll_quantile_rollup"](spark, SF_DIR)
    plan = _plan(df)
    assert "partial_kll_sketch_agg_bigint" in plan
    assert "partial_kll_merge_agg_bigint" in plan
    # the exact-median certification side is the only sort; no
    # cartesian/nested-loop anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_multiband_eval_pair_join_is_blocked_hash_join(
    spark, transparent
):
    """The exhaustive calibration harness still rides the triangle
    decomposition: the pair join is a hash equi-join on the (block,
    cell) key — a cartesian pair expansion here would be the exact
    all-pairs shape the blocking exists to prevent."""
    df = registry.QUERIES["q_dedup_minhash_multiband_eval"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 1
    # the fixed-size calibration slice is a TakeOrderedAndProject
    # top-K over one scan (tables.cal_slice), never a global sort —
    # the shape that keeps the eval corpus-size-independent
    assert "TakeOrderedAndProject" in plan


def test_theta_overlap_sketch_aggs_are_partial_and_pair_join_bounded(spark):
    """The theta rollup's scale story: the sketch build partial-
    aggregates (shuffles carry compact sketch buffers, never user
    rows), and the only nested-loop pair expansion in the plan is the
    |types| x |types| cross join over the 5-row SKETCH table — the
    user-cardinality exact-certification join stays a hash equi-join
    on user_id."""
    df = registry.QUERIES["q_agg_theta_audience_overlap"](spark, SF_DIR)
    plan = _plan(df)
    assert "partial_theta_sketch_agg" in plan
    assert "CartesianProduct" not in plan  # bounded pair join broadcasts
    # the user-scale joins are hash joins keyed on user_id
    assert "Join [user_id" in plan.replace("BroadcastHashJoin [user_id", "Join [user_id")
    # the NULL-user filter reaches every events scan
    assert "isnotnull(user_id" in plan


def test_dynamic_gap_session_is_single_scan_single_exchange(spark):
    """Dynamic session windows must keep the fixed-gap query's shape:
    ONE events scan, map-side partial aggregation, ONE hash exchange on
    user_id into the engine's MergingSessions operator — at 100 TB the
    session merge costs exactly one shuffle of pre-combined rows."""
    df = registry.QUERIES["q_time_session_dynamic_gap"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "MergingSessions" in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "partial_count" in plan
    assert "Join" not in plan


def test_conversion_rate_is_pushed_filter_left_hash_join(spark):
    """The LEFT-OUTER interval join must plan as a hash join on user_id
    with the time bound as a post-condition — never a nested-loop pair
    expansion — and the event_type split must reach both parquet scans
    as pushed filters (each side reads ~1/5 of the table at 100 TB)."""
    df = registry.QUERIES["q_time_conversion_rate"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters: [" in ln]
    assert sum("EqualTo(event_type,click)" in ln for ln in pushed) == 1
    assert sum("EqualTo(event_type,purchase)" in ln for ln in pushed) == 1
    # the dual count_distinct rides ONE Expand with map-side partials
    assert "Expand" in plan and "partial_count" in plan


def test_incremental_dedup_band_joins_are_hash_and_text_never_rejoined(spark):
    """The cross-run dedup scale contract: both candidate generations
    (shard x standing, shard x shard) are hash equi-joins on the band
    bucket — never a pair expansion — and verification uses signatures
    carried ON the band rows, so no join back to the corpus text exists
    anywhere in the plan (the standing corpus is touched as signatures
    only)."""
    df = registry.QUERIES["q_dedup_incremental"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # decisions come from signature/band columns only: the text column
    # is read once per side to BUILD signatures, then never re-joined —
    # no scan projects text for the verification path
    assert "partial_max" in plan or "partial_min" in plan or "partial_count" in plan


def test_holt_winters_single_scan_bounded_grain(spark):
    """Holt-Winters folds over the bounded (type x hour) grain: ONE
    events scan collapses via map-side partials before the O(24)-state
    fold — never a join, never event-cardinality state, so at 100 TB
    the only shuffled rows are hourly buckets."""
    df = registry.QUERIES["q_time_holt_winters"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    # hourly grain forms with map-side combine (partial sums of cents)
    assert "partial_sum" in plan


def test_cdc_chunking_is_map_only_until_chunk_hash_agg(spark):
    """CDC boundary detection and chunk hashing are pure JVM
    expressions per row; the only pair-free shuffle carries 16-byte
    chunk hashes + lengths, the report is a TakeOrderedAndProject
    top-k, and the sole nested-loop join is the broadcast of the
    ONE-ROW corpus totals (bounded by construction)."""
    df = registry.QUERIES["q_multimodal_cdc_chunks"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # exactly the 1-row totals broadcast — no data-sized pair expansion
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "TakeOrderedAndProject" in plan
    # chunk-hash aggregation partial-aggregates map-side
    assert "partial_count" in plan


def test_range_search_pair_join_is_blocked_equi_join(spark):
    """The range-search calibration's pair space forms through the
    width-bounded triangle equi-join (__cell key), never a raw
    CartesianProduct; the only nested-loop joins are the broadcasts of
    the 24 bounded anchor hyperplanes used to build sign bits."""
    df = registry.QUERIES["q_sim_range_search_eval"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    bnl = [
        ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
    ]
    # anchor broadcasts only (the banded subtree appears once per
    # triangle side), each the bounded-by-construction 24-row build
    assert len(bnl) <= 2
    assert all("Cross" in ln for ln in bnl)
    # the pair join itself is an equi-join on the triangle cell key —
    # statically a SortMergeJoin; once AQE finalizes, the tiny fixture
    # side demotes it to a broadcast HASH join, still keyed on __cell,
    # never a pair expansion
    assert any(
        f"{kind} [__cell" in plan
        for kind in (
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastHashJoin",
        )
    )


def test_triangle_count_closes_wedges_by_equi_join(spark):
    """The triangle count's wedge closure is a hash/merge EQUI-join on
    the canonical (y, z) edge key — never a CartesianProduct or an
    OR-condition nested loop — and the co-purchase edge formation
    partial-aggregates map-side before its shuffle, so per-node wedge
    fan-out (bounded by oriented out-degree <= sqrt(2m)) is the only
    quadratic term anywhere in the plan."""
    df = registry.QUERIES["q_graph_triangle_count"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the single-row global-stats frames are the only nested-loop
    # broadcasts (bounded by construction)
    bnl = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(bnl) <= 3
    assert all("Cross" in ln for ln in bnl)
    assert "partial_count" in plan


def test_cms_sketch_collapses_before_any_join(spark):
    """The CMS build is ONE pass over orders with map-side partial
    counts into the d x w = 2048-cell grid; the probe side is the
    TakeOrderedAndProject top-10 (never a key-domain sort), and the
    only nested-loop joins are the one-row cert/total broadcasts."""
    df = registry.QUERIES["q_agg_cms_heavy_hitters"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan
    bnl = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(bnl) <= 2
    assert all("Cross" in ln for ln in bnl)


def test_bloom_prune_probes_in_a_single_fact_pass(spark):
    """Both Bloom word arrays broadcast as ONE-row frames and probe in
    a single lineitem scan via pure bit arithmetic — the fact side is
    scanned once, the only nested-loop joins are those one-row
    broadcasts (plus the one-row dim-count), and the exact-match check
    is a hash equi-join, never a pair expansion."""
    df = registry.QUERIES["q_join_bloom_prune_eval"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    scans = [
        ln for ln in plan.splitlines()
        if "Scan parquet" in ln and "lineitem" in ln
    ]
    assert len(scans) == 1, f"lineitem scanned {len(scans)}x"
    bnl = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(bnl) <= 3
    assert all("Cross" in ln for ln in bnl)
