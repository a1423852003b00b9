"""Gzip codec parity with the reference's GzipUtil
(/root/reference/src/main/java/eu/solutions/a2/utils/GzipUtil.java:27-70):
compress, decompress, and magic-byte sniff.

Spark-first shape: Arrow-batched pandas UDFs (a per-row Python UDF would
be 10-100x slower on the 100 TB path). Compression runs at level 6, the
default of the JDK ``GZIPOutputStream`` that GzipUtil wraps (Python's
``gzip.compress`` defaults to 9: ~7% smaller output at ~1.3x the CPU),
with mtime=0 so output bytes are deterministic — required for
at-least-once dedup downstream.

Speed: besides deflate, every task of this UDF used to pay ~100 ms of
zip-directory re-reads in PySpark's worker; ``get_spark``'s engine
worker daemon removes them (``session``'s docstring). ``conditional_gzip``
over 21 MB of cached ~1 MB values, medians of 9 warm ``noop`` writes on
a 4-core ``local[4]``: 312 -> 238 ms (67 -> 88 MB/s).

The Kafka path does NOT use these: wire compression is the producer's
``compression.type=gzip`` pass-through (KafkaSingleton.java:108-114 →
option("kafka.compression.type", "gzip")). These UDFs implement the
KINESIS payload path (KinesisJob.java:66-73: gzip only above a size
threshold, default 512 B).
"""

from __future__ import annotations

import gzip as _gzip

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

GZIP_MAGIC = b"\x1f\x8b"
# KinesisSingleton.java:36 — default a2.kinesis.file.size.threshold
DEFAULT_THRESHOLD = 512
# JDK GZIPOutputStream / Deflater.DEFAULT_COMPRESSION
GZIP_LEVEL = 6


# Return types are DataType instances (not DDL strings) so decorating at
# import time needs no active SparkSession.
@pandas_udf(BinaryType())
def gzip_decompress(data: pd.Series) -> pd.Series:
    """Gzip-sniffing decompress (GzipUtil.decompress + isCompressed):
    payloads without the 1F 8B magic pass through unchanged."""

    def _d(b: bytes | None) -> bytes | None:
        if b is None:
            return None
        return _gzip.decompress(bytes(b)) if bytes(b)[:2] == GZIP_MAGIC else bytes(b)

    return data.map(_d)


def is_gzip(col):
    """Magic-byte predicate as a JVM expression (no Python):
    GzipUtil.isCompressed(byte[]) equivalent."""
    return F.substring(col, 1, 2) == F.lit(GZIP_MAGIC)


def conditional_gzip(value_col, threshold: int = DEFAULT_THRESHOLD):
    """KinesisJob.java:66-73 semantics: gzip the utf-8 payload only when
    it exceeds ``threshold`` bytes, else raw bytes. One pandas UDF over
    the value's bytes does the size test too, so the plan carries no
    second copy of the ~1 MB value for a JVM-side ``when`` branch. The
    source makes every value valid UTF-8, so ``cast`` yields the same
    bytes as ``encode`` without a charset round trip."""

    @pandas_udf(BinaryType())
    def _gzip_above(data: pd.Series) -> pd.Series:
        def _z(b: bytes | None) -> bytes | None:
            if b is None or len(b) <= threshold:
                return b
            return _gzip.compress(b, compresslevel=GZIP_LEVEL, mtime=0)

        return data.map(_z)

    return _gzip_above(value_col.cast("binary"))
