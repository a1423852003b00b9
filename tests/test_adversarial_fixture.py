"""Adversarial-fixture sweep: every registered query must EXECUTE
(no crash — values are the parity suite's job) against a corpus whose
documents table contains the pathologies real crawl data ships:
empty text, single tokens, repeated-token runs, unicode, exotic
whitespace, and very long words. This is the regression net for the
dup-ngram class of bug (a descending F.sequence feeding slice() on a
short document) — fixture-sized documents never trigger those, an
adversarial corpus does.

Non-document tables are the sf0.001 fixtures unchanged, so join/agg
queries run against real shapes while every text operator sees the
hostile corpus.
"""

from __future__ import annotations

import os
import shutil

import pytest

from oraaud_kafka_spark import registry

from .conftest import SF_DIR

registry.load_all()

_ADVERSARIAL_DOCS = [
    # (doc_id, text, lang, source)
    (0, "", "en", "src0"),
    (1, "one", "en", "src0"),
    (2, "two words", "en", "src1"),
    (3, "a a a a a a a a", "en", "src1"),          # dup-run (a,a) merges
    (4, "x" * 500, "de", "src2"),                  # one giant token
    (5, "  leading and  double  spaces", "de", "src2"),
    (6, "unicode tøkens čęž 測試 🙂 mixed", "fr", "src3"),
    (7, "tab\tand\nnewline separated", "fr", "src3"),
    (8, "signup view click purchase error", "en", "src4"),
    (9, " ".join(f"w{i}" for i in range(300)), "en", "src4"),  # long doc
    # vocab-1 source: every doc one repeated token, so the per-source
    # token distribution has ln(vocab)=0 — the normalized-entropy
    # divide-by-zero class (ANSI DIVIDE_BY_ZERO under Spark 4 defaults)
    (10, "same same same", "en", "src5"),
    (11, "same", "en", "src5"),
]


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("adversarial")
    for name in os.listdir(SF_DIR):
        if name.endswith(".parquet") and name != "documents.parquet":
            src = os.path.join(SF_DIR, name)
            dst = os.path.join(str(base), name)
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)
    docs = spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in _ADVERSARIAL_DOCS],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(os.path.join(str(base), "documents.parquet"))
    return str(base)


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_survives_adversarial_corpus(spark, adversarial_dir, name):
    # uncached build (the registry memoizes per sf_dir, but use the raw
    # fn so a prior failure can't poison the cache for a retry)
    registry.QUERIES[name].__wrapped__(spark, adversarial_dir).collect()


_ADVERSARIAL_EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (1, "2026-01-01 00:00:00", 1, "view", 0.0, "{}"),       # lone event
    (2, "2026-01-01 00:00:00", 2, "view", 1.0, "{}"),       # exact ts tie...
    (3, "2026-01-01 00:00:00", 2, "view", 1.0, "{}"),       # ...same user
    (4, "2026-01-01 00:00:00", 3, "signup", 2.5, "{}"),
    (5, "2026-01-01 00:00:01", 3, "signup", 2.5, "{}"),     # repeat type run
    (6, "2026-01-01 00:00:02", 3, "purchase", 1000.0, "{}"),
    (7, None, 4, "view", 3.0, "{}"),                # NULL ts — no time order
]


@pytest.fixture(scope="module")
def adversarial_events_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("adversarial_events")
    for name in os.listdir(SF_DIR):
        if name.endswith(".parquet") and name != "events.parquet":
            src = os.path.join(SF_DIR, name)
            dst = os.path.join(str(base), name)
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        _ADVERSARIAL_EVENTS,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ev.coalesce(1).write.parquet(os.path.join(str(base), "events.parquet"))
    return str(base)


_EVENT_QUERIES = sorted(
    n for n in registry.QUERIES if "event" in n or n.startswith("q_time")
)


@pytest.mark.parametrize("name", _EVENT_QUERIES)
def test_event_query_survives_adversarial_events(
    spark, adversarial_events_dir, name
):
    """Timestamp ties, single-event users, repeated-type runs, and a
    missing funnel stage must never crash an event operator (the
    empty-edge recursive-CTE case lives here too via q_sql_*)."""
    registry.QUERIES[name].__wrapped__(spark, adversarial_events_dir).collect()


def test_recursive_paths_empty_edges(spark, adversarial_events_dir, tmp_path):
    """Zero observed transitions must yield an empty result, not a
    malformed VALUES clause."""
    import os as _os

    from pyspark.sql import functions as F

    lone = tmp_path / "lone"
    lone.mkdir()
    spark.createDataFrame(
        [(1, "2026-01-01 00:00:00", 1, "view", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
        _os.path.join(str(lone), "events.parquet")
    )
    out = registry.QUERIES["q_sql_recursive_paths"].__wrapped__(
        spark, str(lone)
    ).collect()
    assert out == []


@pytest.fixture(scope="module")
def adversarial_emb_dir(spark, tmp_path_factory):
    """Embeddings with a ZERO vector (norm 0 — every cosine's divisor),
    a huge-magnitude vector, and near-duplicates of the zero-adjacent
    rows; dim matches the fixture's so centroid/IVF shapes hold."""
    import pyarrow.parquet as pq

    base = tmp_path_factory.mktemp("adversarial_emb")
    for name in os.listdir(SF_DIR):
        if name.endswith(".parquet") and name != "embeddings.parquet":
            src = os.path.join(SF_DIR, name)
            dst = os.path.join(str(base), name)
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)
    dim = len(
        pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
        .to_pylist()[0]["embedding"]
    )
    rows = [
        (0, [0.0] * dim, 0),                                  # zero vector
        (1, [1e3] * dim, 0),   # large magnitude (decimal-domain bound:
        #    the exact-decimal moment discipline documents |x| within
        #    DECIMAL(18,8) squared-sum range; embeddings are unit-ish)
        (2, [1.0] + [0.0] * (dim - 1), 1),
        (3, [1.0] + [0.0] * (dim - 1), 1),                    # exact duplicate
        (4, [-1.0] * dim, 2),
        (5, [0.5] * dim, 2),
        (6, [0.0] * (dim - 1) + [1e-30], 3),                  # near-zero
        (7, [float(i % 7) for i in range(dim)], 3),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(str(base), "embeddings.parquet"))
    return str(base)


_EMB_QUERIES = sorted(
    n
    for n in registry.QUERIES
    if n.startswith(("q_sim", "q_emb", "q_dedup_embedding", "q_dedup_semantic"))
    or n in ("q_rag_retrieve_enrich",)
)


@pytest.mark.parametrize("name", _EMB_QUERIES)
def test_embedding_query_survives_adversarial_vectors(
    spark, adversarial_emb_dir, name
):
    registry.QUERIES[name].__wrapped__(spark, adversarial_emb_dir).collect()


@pytest.fixture(scope="module")
def adversarial_tpch_dir(spark, tmp_path_factory):
    """Hostile orders/lineitem/customer — the relational side the three
    sweeps above never stress (schema-valid, content-degenerate): zero
    and negative prices (zero running peak, zero group means), NO
    urgent/high orders (n_pos = 0 for every label-derived eval), a
    single-row order group, constant-quantity line statuses (sxx = 0
    for OLS), a single-class returnflag, one-customer segments
    (k-anonymity classes of 1, chi-square 1xN), and exact-tie account
    balances. Every query runs against this dir; part/supplier/nation/
    region/documents/events/embeddings stay the real fixtures."""
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("adversarial_tpch")
    hostile = {"orders.parquet", "lineitem.parquet", "customer.parquet"}
    for name in os.listdir(SF_DIR):
        if name.endswith(".parquet") and name not in hostile:
            src = os.path.join(SF_DIR, name)
            dst = os.path.join(str(base), name)
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)
    orders = [
        # no 1-URGENT / 2-HIGH anywhere -> every pos-label eval sees 0
        (1, 1, "F", 0.0, "2024-01-01 00:00:00", "3-MEDIUM"),
        (2, 1, "O", 0.0, "2024-01-01 00:00:00", "3-MEDIUM"),  # date tie
        (3, 2, "F", 123.455, "2024-01-02 00:00:00", "5-LOW"),  # .5 cent
        (4, 2, "F", -50.0, "2024-01-03 00:00:00", "5-LOW"),   # refund
        (5, 3, "P", 10000000.0, "2024-01-04 00:00:00", "4-NOT SPECIFIED"),
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")) \
        .coalesce(1).write.parquet(os.path.join(str(base), "orders.parquet"))
    lineitem = [
        # one status all-constant quantity (sxx = 0), one status single
        # row, zero quantities/prices, discount at both bin edges,
        # single returnflag class ('N' only -> confusion tp+fn = 0)
        (1, 1, 1, 1, 5.0, 0.0, 0.0, 0.0, "N", "F", "2024-01-01 00:00:00"),
        (1, 2, 1, 2, 5.0, 100.0, 0.10, 0.0, "N", "F", "2024-01-02 00:00:00"),
        (2, 1, 2, 1, 5.0, 0.0, 0.05, 0.0, "N", "F", "2024-01-03 00:00:00"),
        (3, 3, 2, 1, 0.0, 50.0, 0.0, 0.0, "N", "O", "2024-01-04 00:00:00"),
    ]
    spark.createDataFrame(
        lineitem,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")) \
        .coalesce(1).write.parquet(os.path.join(str(base), "lineitem.parquet"))
    customer = [
        # one-customer segments, exact-tie balances, zero balance
        (1, "Customer#1", 0, 0.0, "BUILDING"),
        (2, "Customer#2", 0, 0.0, "BUILDING"),   # tie with 1
        (3, "Customer#3", 1, -10.5, "MACHINERY"),  # lone segment member
        (4, "Customer#4", 2, 999.99, "AUTOMOBILE"),
    ]
    spark.createDataFrame(
        customer,
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.parquet(os.path.join(str(base), "customer.parquet"))
    return str(base)


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_survives_adversarial_tpch(spark, adversarial_tpch_dir, name):
    registry.QUERIES[name].__wrapped__(spark, adversarial_tpch_dir).collect()


@pytest.fixture(scope="module")
def empty_tables_dir(spark, tmp_path_factory):
    """Every table present with the CORRECT schema and ZERO rows — the
    state any production pipeline hits after a filter, an empty
    partition, or a brand-new ingest directory. Queries must return
    their defined empty/zero-row form, never crash (this sweep caught
    the PCA dim-probe NoneType and the k-means empty-init IndexError
    on arrival)."""
    base = tmp_path_factory.mktemp("empty_tables")
    for name in os.listdir(SF_DIR):
        if name.endswith(".parquet"):
            src = spark.read.parquet(os.path.join(SF_DIR, name))
            src.limit(0).coalesce(1).write.parquet(
                os.path.join(str(base), name)
            )
    return str(base)


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_survives_empty_tables(spark, empty_tables_dir, name):
    registry.QUERIES[name].__wrapped__(spark, empty_tables_dir).collect()


# The operators registered out of the round-15 pending queue. The
# registry-wide sweeps above call each builder directly; these run the
# registered (memoizing) entry point on every hostile fixture, the
# events and vectors ones included, which the registry-wide sweeps
# limit to event and embedding queries.
_PENDING = (
    "q_graph_link_prediction",
    "q_sample_neyman_allocation",
    "q_text_bm25_topk",
)


@pytest.mark.parametrize("name", _PENDING)
def test_pending_op_survives_adversarial_corpus(
    spark, adversarial_dir, name
):
    registry.QUERIES[name](spark, adversarial_dir).collect()


@pytest.mark.parametrize("name", _PENDING)
def test_pending_op_survives_adversarial_tpch(
    spark, adversarial_tpch_dir, name
):
    registry.QUERIES[name](spark, adversarial_tpch_dir).collect()


@pytest.mark.parametrize("name", _PENDING)
def test_pending_op_survives_empty_tables(spark, empty_tables_dir, name):
    registry.QUERIES[name](spark, empty_tables_dir).collect()


@pytest.mark.parametrize("name", _PENDING)
def test_pending_op_survives_adversarial_events(
    spark, adversarial_events_dir, name
):
    registry.QUERIES[name](spark, adversarial_events_dir).collect()


@pytest.mark.parametrize("name", _PENDING)
def test_pending_op_survives_adversarial_vectors(
    spark, adversarial_emb_dir, name
):
    registry.QUERIES[name](spark, adversarial_emb_dir).collect()
