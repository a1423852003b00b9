"""Property tests (SURVEY.md §5.2 item 3): gzip round-trip identity with
magic sniff (R-11/R-12, GzipUtil parity) and pid extraction (R-5,
OraTrcNameHolder parity)."""

from __future__ import annotations

import gzip

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from oraaud_kafka_spark.functions.gzip_codec import (
    DEFAULT_THRESHOLD,
    GZIP_MAGIC,
    conditional_gzip,
    gzip_decompress,
    is_gzip,
)
from oraaud_kafka_spark.sources.audit_xml import PID_PATTERN


def test_gzip_roundtrip_spark(spark):
    texts = ["", "x", "a" * 600, "<Audit>payload</Audit>", "unicode: ☃ ☂"]
    df = spark.createDataFrame([(t,) for t in texts], ["value"])
    out = (
        df.withColumn("raw", F.encode("value", "utf-8"))
        # threshold -1: every value, the empty one too, is gzipped
        .withColumn("gz", conditional_gzip(F.col("value"), -1))
        .withColumn("back", gzip_decompress(F.col("gz")))
        .withColumn("sniff_gz", is_gzip(F.col("gz")))
        .withColumn("sniff_raw", is_gzip(F.col("raw")))
        .withColumn("passthrough", gzip_decompress(F.col("raw")))
        .collect()
    )
    for row in out:
        assert bytes(row.back) == bytes(row.raw)  # round-trip identity
        assert row.sniff_gz  # compressed output carries the magic
        # decompress passes non-gzip data through untouched (GzipUtil sniff)
        assert bytes(row.passthrough) == bytes(row.raw)
        assert bytes(row.gz)[:2] == GZIP_MAGIC


def test_gzip_deterministic(spark):
    """mtime=0 => byte-identical output across invocations (needed for
    downstream dedup of at-least-once redeliveries)."""
    df = spark.createDataFrame([("payload " * 100,)], ["value"])
    one = bytes(df.select(conditional_gzip(F.col("value"), -1).alias("g")).head().g)
    two = bytes(df.select(conditional_gzip(F.col("value"), -1).alias("g")).head().g)
    assert one == two
    assert gzip.decompress(one) == ("payload " * 100).encode()


def test_conditional_gzip_threshold(spark):
    """Raw at or below the threshold, gzipped above it, NULL kept; the
    gzip is level 6 (the JDK GZIPOutputStream default) with mtime=0."""
    small = "s" * 10
    at = "a" * DEFAULT_THRESHOLD
    above = "b" * (DEFAULT_THRESHOLD + 1)
    large = "L" + "<AuditRecord>x</AuditRecord>" * 100
    df = spark.createDataFrame(
        [(small,), (at,), (above,), (large,), (None,)], "value string"
    )
    out = df.withColumn("p", conditional_gzip(F.col("value"))).collect()
    by_val = {r.value and r.value[:1]: r.p and bytes(r.p) for r in out}
    assert by_val["s"] == small.encode()  # below threshold: raw
    assert by_val["a"] == at.encode()  # 512 B: not above, raw
    assert by_val["b"][:2] == GZIP_MAGIC  # 513 B: gzipped
    assert gzip.decompress(by_val["b"]) == above.encode()
    assert by_val["L"] == gzip.compress(large.encode(), compresslevel=6, mtime=0)
    assert by_val[None] is None


@settings(max_examples=200, deadline=None)
@given(
    pid=st.integers(min_value=0, max_value=99999999),
    instance=st.from_regex(r"[a-z][a-z0-9]{0,8}", fullmatch=True),
    seq=st.from_regex(r"[0-9a-zA-Z]{1,14}", fullmatch=True),
)
def test_pid_extraction_property(pid, instance, seq):
    """Pure-regex property check against OraTrcNameHolder.java:34-35
    semantics: pid is the numeric token before the last underscore."""
    import re

    name = f"/some/dir/{instance}_ora_{pid}_{seq}.xml"
    m = re.search(PID_PATTERN, name)
    assert m, name
    assert m.group(1) == str(pid)


def test_pid_extraction_spark_matches_python(spark):
    names = [
        "/a/orcl_ora_12345_20240101.xml",
        "/a/x_1_2.xml",
        "/a/no_pid_here.xml",
        "/a/plain.xml",
    ]
    df = spark.createDataFrame([(n,) for n in names], ["f"])
    got = {
        r.f: r.pid
        for r in df.withColumn(
            "pid", F.regexp_extract("f", PID_PATTERN, 1)
        ).collect()
    }
    assert got["/a/orcl_ora_12345_20240101.xml"] == "12345"
    assert got["/a/x_1_2.xml"] == "1"
    assert got["/a/no_pid_here.xml"] == ""  # non-numeric token -> no pid
    assert got["/a/plain.xml"] == ""
