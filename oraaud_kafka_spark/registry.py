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
from collections.abc import Callable

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

    The registered callable memoizes its built DataFrame per
    (session, sf_dir) — prepared-statement-style plan caching. Every
    query here is a pure function of (spark, sf_dir) returning an
    immutable logical plan, and driver-side plan construction is pure
    py4j round-trips (up to ~0.5 s for expression-dense queries like the
    16-permutation MinHash), so rebuilding it on every invocation is
    waste the engine's callers shouldn't pay twice.

    EXCEPT when the build COMPUTES DATA (round-15 measurement-integrity
    fix): a builder that eagerly checkpoints an intermediate
    (tables.materialize / checkpoint_sort) or collects a bounded table
    to drive an iterative algorithm returns a DataFrame carrying
    computed state, not a pure plan. Memoizing it would serve those
    precomputed results to every later invocation — the bench's timed
    samples included (r14 did exactly this, under-measuring every
    materialize-using query). Such builds are detected via
    tables.DATA_EPOCH and rebuilt — and therefore recomputed from
    parquet — on every invocation.
    """

    def deco(fn: QueryFn) -> QueryFn:
        plans: dict[tuple, DataFrame] = {}

        def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
            from . import tables

            key = (spark, sf_dir)
            df = plans.get(key)
            if df is None:
                epoch0 = tables.DATA_EPOCH
                df = fn(spark, sf_dir)
                if tables.DATA_EPOCH != epoch0:
                    # build ran jobs / checkpointed: the returned frame
                    # holds computed state — never memoize it
                    return df
                plans[key] = df
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


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Module not written yet during incremental build; only swallow
            # the registry module itself being absent, not its dependencies.
            if mod not in str(e):
                raise
    _loaded = True


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return dict(ORACLES)
