"""Central query registry backing ``__spark_entry__.py``.

Every analytic operator from SURVEY.md §2.2 registers here with
``@query(name, oracle=<duckdb-sql or None>)``. The driver runs the Spark
callable and the oracle SQL side-by-side and hash-compares values, so:

- alias every computed column identically on both sides;
- keep float outputs bitwise-deterministic (see queries._num helpers):
  sums go through exact DECIMAL intermediates, division/sqrt happen in
  IEEE double identically on both engines;
- ops with no faithful SQL equivalent register oracle=None (rows-only
  check).
"""

from __future__ import annotations

import importlib
import uuid
from collections.abc import Callable

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Queries are listed in registration order: module order below, then
# definition order within each module.
_MODULES = (
    "oraaud_kafka_spark.llm.text",
    "oraaud_kafka_spark.llm.dedup",
    "oraaud_kafka_spark.llm.similarity",
    "oraaud_kafka_spark.llm.multimodal",
    "oraaud_kafka_spark.llm.corpus",
    "oraaud_kafka_spark.llm.packing",
    "oraaud_kafka_spark.llm.decontam",
    "oraaud_kafka_spark.queries.event_time",
    "oraaud_kafka_spark.queries.scalar_funcs",
    "oraaud_kafka_spark.queries.semistructured",
    "oraaud_kafka_spark.queries.subqueries",
    "oraaud_kafka_spark.queries.udf_surface",
    "oraaud_kafka_spark.queries.setops",
    "oraaud_kafka_spark.queries.reshape",
    "oraaud_kafka_spark.queries.pricing",
    "oraaud_kafka_spark.queries.tpch",
    "oraaud_kafka_spark.queries.filters",
    "oraaud_kafka_spark.queries.joins",
    "oraaud_kafka_spark.queries.graphs",
    "oraaud_kafka_spark.queries.aggregates",
    "oraaud_kafka_spark.queries.windows",
    "oraaud_kafka_spark.queries.sorts",
)

_loaded = False


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable, optionally with a
    DuckDB oracle SQL string proving the same semantics.

    The registered callable memoizes its built logical plan per
    (session, sf_dir). A query is a pure function of (spark, sf_dir)
    returning a logical plan, and building that plan is driver-side
    py4j work (up to ~0.5 s for expression-dense queries such as the
    16-permutation MinHash), so a repeat call reuses the plan. Each
    call still returns a new DataFrame over it, with its own
    ``QueryExecution``: an action plans and runs afresh on every call,
    where a shared DataFrame would hand a second action the first
    one's finalized adaptive plan and its shuffle output
    (q1_pricing_summary ran 3 Spark jobs, then 1). A hit costs ~1-2 ms.

    The memo skips any build that runs a Spark job: an eager checkpoint
    (tables.materialize), a collect or count that feeds literals into
    the plan, an iterative driver loop. Such a plan carries computed
    state, and handing it to a later call would serve precomputed
    results instead of recomputing from parquet. _build sees those jobs
    itself, so no builder has to report them. A build that is first to
    load a table runs that table's parquet schema job, so it is
    memoized on its second call instead.
    """

    def deco(fn: QueryFn) -> QueryFn:
        plans: dict[tuple, JavaObject] = {}

        def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
            key = (spark, sf_dir)
            plan = plans.get(key)
            if plan is not None:
                jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                    spark._jsparkSession, plan
                )
                return DataFrame(jdf, spark)
            df, ran_jobs = _build(fn, spark, sf_dir)
            if not ran_jobs:
                plans[key] = df._jdf.queryExecution().analyzed()
            return df

        cached.__name__ = fn.__name__
        cached.__doc__ = fn.__doc__
        cached.__wrapped__ = fn
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = cached
        if oracle is not None:
            ORACLES[name] = oracle
        return cached

    return deco


def _build(fn: QueryFn, spark: SparkSession, sf_dir: str) -> tuple[DataFrame, bool]:
    """Run fn and report whether it ran a Spark job.

    The build's jobs carry a unique job tag. Tags add to the caller's
    job group and tags instead of replacing them, and a nested build's
    jobs carry the outer tag too. The status store is fed from the
    listener bus asynchronously, so the bus is drained before the
    tag is looked up."""
    sc = spark.sparkContext
    tag = f"registry-build-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        df = fn(spark, sf_dir)
    finally:
        sc.removeJobTag(tag)
    jvm_sc = sc._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()
    return df, len(jvm_sc.statusTracker().getJobIdsForTag(tag)) > 0


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        importlib.import_module(mod)
    _loaded = True


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return dict(ORACLES)
