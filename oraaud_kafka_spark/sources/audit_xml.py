"""Audit-directory source: the Spark-native re-expression of the
reference's ingest front half (SURVEY.md §2.1 R-1..R-10).

Reference semantics -> Spark mapping:
- WatchService loop + backlog scan (OraaudKafka.java:79-131,
  CommonJobSingleton.java:85-96) -> one file source; each micro-batch
  lists new files, the first batch includes pre-existing ones, and
  ``getBatch`` re-stats the batch's admitted files on the driver
  (``session.get_spark`` keeps every listing off the executors).
- ``*.xml`` suffix filter (OraaudKafka.java:114) -> pathGlobFilter.
- whole-file read, newline-strip (KafkaJob.java:49-57, the commented-out
  append("\\n") at :54) -> wholetext=true + make_valid_utf8 + replace.
  ``replace`` works on the UTF-8 bytes (no UTF-16 decode, unlike
  ``translate``); ``make_valid_utf8`` first turns malformed bytes into
  U+FFFD, as the JDK decoder does, and copies nothing when the value is
  valid. One case differs from a JDK decode: a UTF-8-encoded surrogate
  (``ED A0 80``) becomes three U+FFFD, where Java writes one.
- key = hostname:file (KafkaJob.java:47, CommonJobSingleton.java:49)
  -> concat(lit(driver hostname), ':', input_file_name()).
- pid from ``*_<pid>_<ts>.xml`` (OraTrcNameHolder.java:34-35)
  -> regexp_extract on the file name.
- completeness gate endsWith("</Audit>") (KafkaJob.java:59) ->
  is_complete filter, rlike ``</Audit>[ \\t\\r\\n]*\\z`` (trailing
  spaces, tabs and line breaks ignored);
  incomplete files are withheld from the sink. They are NOT retried:
  the file source logs every listed file as seen, so a later
  re-listing skips them, and ``cleanSource`` deletes them after the
  batch commits like any other listed file. The reference
  requeues them instead (KafkaJob.java:81-88); that gap is open.
- locked-writer gate (R-6, OpenFilesIntf strategies): Spark's contract is
  immutable-once-visible files; the trigger interval plus the
  completeness predicate provide the equivalent "never ship a truncated
  file" guarantee without OS introspection.
"""

from __future__ import annotations

import socket

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# OraTrcNameHolder.java:34-35 — pid is the token before the last '_'.
PID_PATTERN = r"_([0-9]+)_[^_/]*\.xml$"
# KafkaJob.java:59 — the file ends in </Audit>, then only spaces, tabs
# and line breaks.
COMPLETE_PATTERN = r"</Audit>[ \t\r\n]*\z"


def driver_hostname() -> str:
    """Captured once on the driver — same contract as the reference's
    hostname-at-startup (CommonJobSingleton.java:49, OsUtils.java:30-39);
    executor hostnames would fragment the key space."""
    return socket.gethostname()


def _decorate(df: DataFrame, hostname: str | None) -> DataFrame:
    host = hostname or driver_hostname()
    src_file = F.input_file_name()
    # is_complete is computed on the RAW value BEFORE the newline strip,
    # so the ~1 MB strip is evaluated once, only for rows that pass the
    # gate. The anchored regex finds the literal '</Audit>' and checks
    # only the bytes after it; \z, not $, because Java's $ also matches
    # before a final \u2028 or \u0085. (An rtrim with a trim set walks
    # the whole value and allocates two int[numBytes] arrays per row.)
    return (
        df.withColumn("src_file", src_file)
        .withColumn("src_host", F.lit(host))
        .withColumn("src_pid", F.regexp_extract(src_file, PID_PATTERN, 1))
        .withColumn("key", F.concat_ws(":", F.lit(host), src_file))
        .withColumn("is_complete", F.col("value").rlike(COMPLETE_PATTERN))
        .withColumn(
            "value",
            F.replace(F.make_valid_utf8("value"), F.lit("\n"), F.lit("")),
        )
    )


def read_audit_stream(
    spark: SparkSession,
    watched_path: str,
    *,
    hostname: str | None = None,
    max_files_per_trigger: int | None = None,
    clean_source: str | None = None,
) -> DataFrame:
    """Streaming whole-file source over an audit directory.

    ``clean_source='delete'`` reproduces R-15 (delete after the batch
    commits — the reference deletes after the producer ack,
    KafkaJob.java:71).
    """
    reader = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.xml")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if clean_source:
        reader = reader.option("cleanSource", clean_source)
    return _decorate(reader.load(watched_path), hostname)


def read_audit_batch(
    spark: SparkSession, watched_path: str, *, hostname: str | None = None
) -> DataFrame:
    """Batch variant (backfill / reprocessing path)."""
    df = (
        spark.read.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.xml")
        .load(watched_path)
    )
    return _decorate(df, hostname)


def complete_only(df: DataFrame) -> DataFrame:
    """R-10: ship only well-formed files. The rest are withheld, not
    retried: the file source never lists them again, and ``cleanSource``
    consumes them with their batch."""
    return df.filter(F.col("is_complete"))
