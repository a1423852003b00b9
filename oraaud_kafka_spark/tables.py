"""Fixture table access (driver-generated parquet, TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Plan cache: spark.read.parquet costs ~100 ms of driver time per call
# (file listing + footer schema read). DataFrames are immutable logical
# plans, so reusing one per (session, dir, table) is safe and drops that
# cost from every query build. Keyed by the session object itself
# (identity hash) so a stopped/restarted session never serves stale
# plans.
_LOAD_CACHE: dict[tuple, DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}")
    key = (spark, sf_dir, name)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached
    df = _read(spark, sf_dir, name)
    _LOAD_CACHE[key] = df
    return df


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Fixture generations have shipped events.ts as either parquet
        # TIMESTAMP(MICROS) (reads natively as timestamp_ntz) or
        # TIMESTAMP(NANOS) (Spark 4 rejects unless nanosAsLong maps it to
        # int64). Read first, inspect what actually loaded, and only
        # apply the nanos→micros truncation when ts arrived as bigint —
        # DuckDB's read_parquet truncates nanos the same way, keeping
        # oracles comparable without any cast on the SQL side.
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        loaded = dict(df.dtypes).get("ts")
        if loaded == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif loaded == "timestamp_ntz":
            # Downstream queries (and rounds 1-3 driver verification) assume
            # plain TIMESTAMP — e.g. casts to BIGINT epoch seconds that
            # Spark 4 forbids on TIMESTAMP_NTZ. Session timezone is pinned
            # to UTC (session.py), so this cast is value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def bounded_sort(df: DataFrame, *cols: str) -> DataFrame:
    """Total-order sort for a BOUNDED output (a literal id-range filter,
    a grouped report over a fixed domain) without a range exchange.

    ``orderBy`` plans Exchange(rangepartitioning), and computing the
    range bounds SAMPLES the child: the whole plan segment below the
    exchange (up to the nearest materialized shuffle) executes a second
    time per run. For a map-only lineage that segment is the entire
    query — and when it contains MapInPandas/ArrowEvalPython stages the
    sampling pass pays the full Python boundary cost again (round-14
    measurement: the multimodal family ran every decode pipeline twice
    per execution). Coalescing the bounded result to one partition and
    sorting within it yields the identical total order with zero
    exchanges and zero sampling. ONLY for outputs bounded by
    construction — the coalesce serializes whatever remains above the
    last shuffle, which is exactly the TakeOrderedAndProject trade for
    bounded reports."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def materialize(df: DataFrame, *, checkpoint_dir: str | None = None) -> DataFrame:
    """Eager checkpoint for a multiply-referenced intermediate
    (guide §3.3): the self-join sides' alias-divergent projections
    defeat ReuseExchange, so without materialization the expensive
    lineage below executes once PER reference.

    The checkpoint is a Spark job, so registry.query never memoizes a
    build that calls this: every invocation recomputes from the
    parquet inputs, and the checkpoint blocks die with that
    invocation's DataFrame. ``.cache()`` would instead let the
    CacheManager match the next run's identical plan and hand it
    precomputed results.

    Durability: the default ``localCheckpoint`` stores blocks on
    executors with lineage discarded. That is fast, but an executor
    loss mid-query aborts the job, and blocks evicted under memory
    pressure are unrecoverable. For cluster runs pass
    ``checkpoint_dir``, and the blocks go through
    ``DataFrame.checkpoint()`` to that fault-tolerant dir instead.
    Local runs keep the local default: one JVM, no executor to lose.

    Size discipline: each call site states its checkpointed frame's
    cardinality class in a comment; O(corpus) frames must project to
    the narrow columns the downstream references actually need before
    materializing.

    ``SPARK_GRAFT_PLAN_TRANSPARENT=1`` makes this a no-op so plan-pin
    tests can assert on the full logical lineage the checkpoint
    otherwise hides; production never sets it."""
    if os.environ.get("SPARK_GRAFT_PLAN_TRANSPARENT") == "1":
        return df
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def checkpoint_sort(df: DataFrame, *cols: str) -> DataFrame:
    """Presentation sort for a ROW-CARDINALITY report whose lineage is
    expensive (heavy map-only stage, no materialized shuffle below):
    ``orderBy`` plans a range exchange whose bound-sampling pass
    re-executes the whole exchange-free child segment a second time
    (see bounded_sort), but coalesce(1) is only valid for bounded
    outputs. Materializing the NARROW final projection once
    (localCheckpoint — recomputed from source on every invocation,
    nothing persists across runs) lets the sampling pass read the
    in-memory rows instead: the expensive lineage runs exactly once,
    and the sort shuffles the same narrow bytes it would have anyway.
    Only worth it when the per-row compute dominates the cost of
    writing the projected rows once — A/B-measure (a cheap tokenize
    map got SLOWER under this on round-14 measurement)."""
    return materialize(df).orderBy(*cols)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql queries."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


# Calibration-eval slice discipline (round-14, replacing the id % 2
# moduli): ground-truth evals need an exhaustive pair join, so their
# input must be a FIXED-SIZE deterministic sample — a modulus slice
# scales with the corpus and turns the calibration quadratic at 100x.
# The K docs/vectors ranked lowest by md5('cal:' || id) are a
# reproducible pseudo-random draw (the repo's reservoir discipline, no
# rand()), identical in both engines, and constant-cost at ANY corpus
# size: the Spark side is a TakeOrderedAndProject top-K over one scan,
# never a global sort.
CAL_SLICE_K = 256


def cal_slice(df: DataFrame, id_col: str, k: int = CAL_SLICE_K) -> DataFrame:
    from pyspark.sql import functions as F

    key = F.md5(F.concat(F.lit("cal:"), F.col(id_col).cast("string")))
    return df.orderBy(key, id_col).limit(k)


def sql_cal_key(id_col: str) -> str:
    """DuckDB-side twin of :func:`cal_slice`'s ordering key; use as
    ``ORDER BY {sql_cal_key('doc_id')}, doc_id LIMIT {CAL_SLICE_K}``."""
    return f"md5('cal:' || CAST({id_col} AS VARCHAR))"
