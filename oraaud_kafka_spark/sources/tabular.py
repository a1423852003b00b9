"""Tabular batch sources/sinks (SURVEY.md §2.2 scans/sources/sinks):
CSV, JSON-lines, Parquet — thin declarative wrappers so every scan gets
Catalyst's pushdown/pruning, plus scale-aware write helpers.

Scale notes baked in:
- Always pass an explicit schema in production: schema inference is a
  full extra pass over the data (fatal at 100 TB).
- Partitioned parquet writes give partition pruning on read; bucketed
  saveAsTable gives shuffle-free joins on the bucket key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    *,
    header: bool = True,
    **options: str,
) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "error",
    compression: str = "zstd",
) -> None:
    """Partition by low-cardinality filter columns (date, region) so
    reads prune whole directories; never by a high-cardinality key
    (one directory per value kills the namenode/listing)."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "error",
) -> None:
    """Bucketed managed table: joins/aggs on the bucket key skip the
    shuffle entirely — the co-located-join strategy for repeated
    fact-fact joins at scale."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table, format="parquet")


def delta_available(spark: SparkSession) -> bool:
    """True when the delta-spark package AND its JVM extension are on
    this session. Needs the session built with
    ``delta.configure_spark_with_delta_pip`` (or the equivalent
    --packages io.delta:delta-spark); not bundled in this container."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    cls = "org.apache.spark.sql.delta.catalog.DeltaCatalog"
    return cls in spark.conf.get("spark.sql.catalog.spark_catalog", "")


def write_delta(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "error",
    merge_schema: bool = False,
) -> None:
    """Delta-format sink (SURVEY.md §2.2 "Parquet/Delta"): same layout
    guidance as write_parquet plus ACID commits, schema enforcement and
    time travel. Import-gated — raises a clear error when delta-spark
    isn't installed (this container) instead of failing inside the JVM;
    the plan shape is identical to the parquet writer either way."""
    if not delta_available(df.sparkSession):
        raise NotImplementedError(
            "Delta sink needs the delta-spark package and a session built "
            "with its SQL extension (configure_spark_with_delta_pip); "
            "neither is available in this container - use write_parquet, "
            "or install delta-spark on the cluster."
        )
    writer = df.write.format("delta").mode(mode)
    if merge_schema:
        writer = writer.option("mergeSchema", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — Spark-native columnar alternative to parquet, with the
    same pushdown/pruning behavior (PushedFilters reach the ORC reader)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "error",
    compression: str = "zstd",
) -> None:
    """ORC sink with the same partitioning guidance as write_parquet."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_jsonl(df: DataFrame, path: str, *, mode: str = "error") -> None:
    """JSON-lines sink — the interchange format for downstream tooling
    that can't read columnar files. Compression left to the caller via
    spark.conf (text codecs apply); never the hot-path analytic format."""
    df.write.mode(mode).json(path)


def compact_parquet(
    spark: SparkSession,
    src_dir: str | list[str],
    dst_dir: str,
    *,
    target_file_mb: int = 128,
    compression: str = "zstd",
) -> int:
    """Small-files compaction — the table-maintenance pass every
    streaming-ingested lakehouse needs: streaming sinks and frequent
    appends leave thousands of KB-scale files whose per-file open/footer
    cost dominates scans and floods the file listing. Rewrite the
    dataset (one directory, or a LIST of append-only shard directories)
    into ~``target_file_mb`` files sized from the ACTUAL on-disk bytes
    (not a guessed partition count). Returns the file count written. At
    scale, run per partition-directory so compaction parallelizes and
    commits independently."""
    import math
    import os
    from urllib.parse import urlsplit

    src_dirs = [src_dir] if isinstance(src_dir, str) else list(src_dir)
    if not src_dirs:
        raise ValueError("compact_parquet needs at least one source dir")

    # The sizing pass walks the LOCAL filesystem; a remote URI
    # (hdfs://, s3a://, ...) would silently measure 0 bytes and
    # collapse the dataset into a single file — reject it instead.
    # urlsplit (not a "://" scan) so single-slash URI forms Hadoop
    # accepts — file:/tmp/x, hdfs:/x — are classified too. A local
    # relative path whose first segment contains a colon (urlsplit
    # would call that a scheme) short-circuits on existence.
    walk_dirs = []
    for src in src_dirs:
        if os.path.exists(src):
            walk_dirs.append(src)
            continue
        parts = urlsplit(src)
        if parts.scheme and parts.scheme != "file":
            raise ValueError(
                f"compact_parquet sizes files via the local filesystem; "
                f"got non-local path {src!r} (scheme "
                f"{parts.scheme!r}). Compute sizes with the Hadoop "
                "FileSystem API for remote stores."
            )
        if parts.scheme == "file" and parts.netloc:
            raise ValueError(
                f"file: URI with a non-empty host {parts.netloc!r} is "
                f"not a local path: {src!r}"
            )
        walk_dirs.append(parts.path if parts.scheme else src)

    total_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for walk_dir in walk_dirs
        for root, _, files in os.walk(walk_dir)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(*src_dirs)
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(dst_dir)
    )
    return n_files


def _morton_interleave(a, b):
    """Interleave the low 16 bits of two long columns into a 32-bit
    Morton (Z-curve) key — pure JVM bit expressions, the classic
    parallel bit-spread: x = (x | x<<8) & M1; (x | x<<4) & M2; ...
    then key = spread(a) | spread(b) << 1."""
    from pyspark.sql import functions as F

    def spread(x):
        x = x.bitwiseAND(F.lit(0xFFFF))
        x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
        x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
        x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
        return x

    return spread(a).bitwiseOR(F.shiftleft(spread(b), 1))


def zorder_write(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    *,
    n_files: int = 8,
    mode: str = "error",
) -> None:
    """Write ``df`` as parquet laid out along a Z-curve over two numeric
    columns — the data-skipping layout (Delta OPTIMIZE ZORDER BY /
    Iceberg sort orders) that makes BOTH columns' per-file min/max
    statistics selective, so point/range predicates on EITHER column
    prune files at plan time. Each column is quantile-normalized to 8
    bits (255 approxQuantile boundaries per column — distribution-
    proof like a rank, skew cannot collapse buckets, but a bounded
    driver collect instead of the global percent_rank window the
    round-9 audit flagged: no single task ever owns the table; string
    columns additionally strip their longest common prefix first, so
    constant-prefix columns like c_name keep a diverse bucket domain
    — see rank_key), the
    Morton key interleaves the two bucket ids, and repartitionByRange
    + a within-partition sort cluster the curve. At 100 TB this is the
    difference between a scan touching every file and touching
    ~1/n_files of them for a 2-D selective predicate; the range
    exchange samples the key, it never globally sorts the data twice.
    Boundary inaccuracy only skews bucket SIZES a little — file-level
    min/max selectivity is preserved for any order-respecting
    bucketing, the same argument as q_events_rfm's exact-ntile
    machinery.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Strings embed via 7 UTF-8 bytes — but common-prefix columns
    # (TPC-H c_name 'Customer#000000042') share their first 7 bytes, so
    # a raw prefix collapses every row into one bucket and the Morton
    # key silently degenerates to the other column. Strip the longest
    # common prefix first: Spark compares strings bytewise, so
    # LCP(min, max) == LCP(all rows), and one map-side-combined min/max
    # agg (a single narrow job, only when string columns are z-ordered,
    # two strings of driver state per column) recovers the bytes that
    # actually discriminate.
    str_cols = [
        n for n in cols if isinstance(df.schema[n].dataType, T.StringType)
    ]
    lcp: dict[str, int] = {}
    if str_cols:
        aggs = [
            a
            for i, n in enumerate(str_cols)
            for a in (F.min(n).alias(f"__lo{i}"), F.max(n).alias(f"__hi{i}"))
        ]
        from ..tables import note_data_computed

        note_data_computed()  # build-time min/max scan: no plan memo
        row = df.agg(*aggs).first()
        for i, n in enumerate(str_cols):
            lo, hi = row[f"__lo{i}"], row[f"__hi{i}"]
            if lo is None or hi is None:
                lcp[n] = 0
                continue
            lb, hb = lo.encode("utf-8"), hi.encode("utf-8")
            k = 0
            while k < min(len(lb), len(hb)) and lb[k] == hb[k]:
                k += 1
            lcp[n] = k

    def rank_key(name: str):
        """Order-preserving DOUBLE view of any supported column type —
        approxQuantile only accepts numerics, but the replaced
        percent_rank normalization handled every orderable type, so
        each type gets a monotone numeric embedding instead of a
        crash: numerics cast, date/timestamp via epoch micros, strings
        via 7 UTF-8 bytes past the column's longest common prefix as a
        big-endian integer (56 bits fit a double exactly; ties beyond
        those 7 bytes just share a bucket — bucketing only needs
        monotone-non-strict, and monotonicity is unaffected by
        dropping a shared prefix)."""
        dt = df.schema[name].dataType
        c = F.col(name)
        if isinstance(dt, T.NumericType) or isinstance(dt, T.BooleanType):
            return c.cast("double")
        if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            return F.unix_micros(c.cast("timestamp")).cast("double")
        if isinstance(dt, T.StringType):
            return F.conv(
                F.rpad(
                    F.substring(
                        F.hex(F.encode(c, "UTF-8")), 1 + 2 * lcp[name], 14
                    ),
                    14,
                    "0",
                ),
                16,
                10,
            ).cast("double")
        raise ValueError(
            f"zorder_write: column {name!r} has unsupported type {dt} — "
            "numeric, boolean, date/timestamp, and string columns are "
            "z-orderable"
        )

    from ..operators.bucketing import boundary_bucket

    c1, c2 = cols
    k1, k2 = rank_key(c1), rank_key(c2)
    qs = [i / 256 for i in range(1, 256)]
    proj = df.select(k1.alias("__k1"), k2.alias("__k2"))
    bounds1, bounds2 = (
        sorted(v for v in set(b) if v == v)  # drop NaN from all-null cols
        for b in proj.stat.approxQuantile(["__k1", "__k2"], qs, 0.001)
    )
    # NULLS FIRST (bucket 0), like the replaced percent_rank layout —
    # see operators/bucketing.py for why the convention is explicit
    keyed = df.withColumn(
        "__z",
        _morton_interleave(
            boundary_bucket(k1, bounds1, nulls_last=False).cast("long"),
            boundary_bucket(k2, bounds2, nulls_last=False).cast("long"),
        ),
    )
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
