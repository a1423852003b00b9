"""End-to-end ingest pipeline: audit directory -> Kafka/Kinesis — the
Spark-native port of the reference daemon (SURVEY.md §3.2 hot path).

One streaming query replaces the reference's four thread pools:

  readStream(text, wholetext, pathGlobFilter=*.xml)     R-1/R-2/R-3
    -> derive key/pid/host columns                      R-5/R-9
    -> filter is_complete                               R-10 (+R-6 analog)
    -> sink (kafka | foreachBatch kinesis)              R-13/R-14
  with trigger(processingTime=... | availableNow)       R-7
  checkpoint + cleanSource=delete                       R-15 at-least-once
  observe() metrics + StreamingQueryListener            R-16

Delivery contract preserved (SURVEY.md §3.4): at-least-once, no file
shipped truncated, duplicates possible on redelivery — identical to the
reference's ack-then-delete.

Each micro-batch commits three checkpoint files: the file-source log,
the offset WAL and the commit log. Spark writes them through the
checkpoint manager the session names. On a ``local`` master
``session.get_spark`` picks Spark's
``FileSystemBasedCheckpointFileManager``: a temp file renamed into place
with one atomic ``rename(2)``, refusing to overwrite an existing batch
file. A cluster master keeps Spark's default FileContext manager.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from ..sources.audit_xml import complete_only, read_audit_stream
from ..functions.gzip_codec import DEFAULT_THRESHOLD, conditional_gzip

# OraaudKafka.java:54-55 — default lock-poll interval 1000 ms.
DEFAULT_TRIGGER = "1 second"


def build_ingest_stream(
    spark: SparkSession,
    watched_path: str,
    *,
    hostname: str | None = None,
    max_files_per_trigger: int | None = None,
    clean_source: str | None = "delete",
) -> DataFrame:
    """The transform half of the pipeline: decorated whole-file records,
    completeness-gated, observed for metrics."""
    df = read_audit_stream(
        spark,
        watched_path,
        hostname=hostname,
        max_files_per_trigger=max_files_per_trigger,
        clean_source=clean_source,
    )
    shipped = complete_only(df).select("key", "value", "src_host", "src_file", "src_pid")
    # R-16: files + bytes per batch, the CommonJobMgmt.java:22-24 counters.
    return shipped.observe(
        "ingest_metrics",
        F.count(F.lit(1)).alias("files"),
        F.sum(F.octet_length("value")).alias("bytes"),
    )


def kafka_records(df: DataFrame) -> DataFrame:
    """The exact (key, value) projection the Kafka sink ships — the
    ProducerRecord contract of the reference (KafkaJob.java:60-80:
    key=host:file, value=whole file newline-stripped). Factored out so
    tests can drive the identical projection through foreachBatch when
    no broker/connector JAR is available."""
    return df.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )


def kafka_sink_options(
    *,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    kafka_options: dict | None = None,
) -> dict[str, str]:
    """The full option map the Kafka sink runs with — pure so the
    producer-config contract (KafkaSingleton.java:86-144) is testable
    without a broker or the connector JAR. Producer tunables pass
    through ``kafka.``-prefixed (prefix added when missing, matching how
    the reference forwards every ``a2.kafka.*`` property verbatim into
    ProducerConfig); ``topic`` and ``checkpointLocation`` are sink-level
    options and stay unprefixed. Compression defaults to gzip
    (KafkaSingleton.java:108-114); ``compression.type`` in
    ``kafka_options`` overrides it."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "kafka.compression.type": "gzip",
        "checkpointLocation": checkpoint_dir,
    }
    for k, v in (kafka_options or {}).items():
        key = k if k.startswith("kafka.") else f"kafka.{k}"
        opts[key] = str(v)
    return opts


def _start(writer, trigger: str | None, available_now: bool) -> StreamingQuery:
    """Start a sink on the query's trigger: availableNow drains what is
    listed and stops (``--once``); otherwise the processing-time trigger
    is the reference's lock-poll interval (R-7)."""
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def start_kafka_sink(
    df: DataFrame,
    *,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    trigger: str = DEFAULT_TRIGGER,
    available_now: bool = False,
    kafka_options: dict | None = None,
) -> StreamingQuery:
    """R-13. Every ``a2.kafka.*`` tunable of the reference
    (KafkaSingleton.java:107-139: acks, batch.size, linger.ms,
    buffer.memory, max.request.size, retries, security.protocol, ...)
    passes through as a ``kafka.``-prefixed option via
    ``kafka_options``. Requires the spark-sql-kafka connector JAR on the
    classpath (not bundled with pyspark)."""
    writer = (
        kafka_records(df)
        .writeStream.format("kafka")
        .options(
            **kafka_sink_options(
                bootstrap_servers=bootstrap_servers,
                topic=topic,
                checkpoint_dir=checkpoint_dir,
                kafka_options=kafka_options,
            )
        )
    )
    return _start(writer, trigger, available_now)


def _kinesis_client(
    region: str,
    *,
    access_key: str | None = None,
    secret_key: str | None = None,
    max_connections: int = 1,
    request_timeout_ms: int = 30000,
):
    """The boto3 Kinesis client the writer builds per executor
    partition, signed with the configured ``a2.kinesis.access.*`` keys
    (KinesisSingleton.java:70-157); boto3's default credential chain
    applies only when they are unset."""
    import boto3
    from botocore.config import Config

    return boto3.client(
        "kinesis",
        region_name=region,
        aws_access_key_id=access_key,
        aws_secret_access_key=secret_key,
        config=Config(
            max_pool_connections=max_connections,
            connect_timeout=request_timeout_ms / 1000.0,
            read_timeout=request_timeout_ms / 1000.0,
        ),
    )


def kinesis_batch_writer(
    stream_name: str,
    region: str,
    *,
    access_key: str | None = None,
    secret_key: str | None = None,
    gzip_threshold: int = DEFAULT_THRESHOLD,
    client_factory: Callable | None = None,
    put_batch_size: int = 500,
    put_retries: int = 5,
    retry_backoff_s: float = 0.2,
    max_connections: int = 1,
    request_timeout_ms: int = 30000,
    record_max_buffered_ms: int = 5000,
) -> Callable[[DataFrame, int], None]:
    """R-14: Kinesis has no built-in Spark sink — ship each micro-batch
    with put_records from foreachBatch. Payloads gzip above the
    threshold (KinesisJob.java:66-73). ``client_factory`` lets tests
    inject a fake client; the default is a boto3 client per executor
    partition, signed with ``access_key``/``secret_key``.

    The reference's KPL tunables (KinesisSingleton.java:106-142) map to
    their batched-put equivalents: ``max_connections`` -> botocore
    connection-pool size, ``request_timeout_ms`` -> botocore
    connect/read timeouts, ``record_max_buffered_ms`` -> maximum age of
    a partially-filled put buffer before it flushes even though
    ``put_batch_size`` wasn't reached (bounds delivery latency when
    upstream rows trickle).

    put_records is PARTIAL-failure prone: a 200 response can still carry
    ``FailedRecordCount > 0`` with per-record ``ErrorCode`` entries
    (throttling). Those records are retried with exponential backoff; if
    retries exhaust, the micro-batch raises and is NOT committed, so
    cleanSource=delete retains the source files for redelivery — the
    same file-lives-until-ack contract the reference implements by
    deleting only in the producer success callback (KinesisJob.java
    onSuccess)."""

    def put_with_retry(client, records: list) -> None:
        import time

        attempt = 0
        while records:
            resp = client.put_records(StreamName=stream_name, Records=records)
            resp = resp or {}
            if not (resp.get("FailedRecordCount") or 0):
                return
            results = resp.get("Records") or []
            # Per-record results are positional, so the contract only
            # holds when the response covers every sent record. A short
            # Records list would make zip() silently skip the tail —
            # records neither checked nor retried while the micro-batch
            # commits. Fail closed instead; the source files survive for
            # redelivery.
            if len(results) != len(records):
                raise RuntimeError(
                    "Kinesis put_records returned a malformed response: "
                    f"{len(results)} per-record results for "
                    f"{len(records)} sent records (FailedRecordCount="
                    f"{resp.get('FailedRecordCount')}); positional "
                    "error attribution is impossible, failing "
                    "micro-batch so source files are retained"
                )
            failed = [
                rec
                for rec, res in zip(records, results)
                if res.get("ErrorCode")
            ]
            if not failed:
                # FailedRecordCount > 0 but no per-record ErrorCode: we
                # cannot tell WHICH records were dropped, so treating
                # this as success would silently lose data — fail the
                # micro-batch and keep the source files.
                raise RuntimeError(
                    "Kinesis put_records reported FailedRecordCount="
                    f"{resp.get('FailedRecordCount')} but returned no "
                    f"per-record ErrorCode entries for "
                    f"{len(records)} records; failing micro-batch so "
                    "source files are retained"
                )
            records = failed
            attempt += 1
            if attempt > put_retries:
                raise RuntimeError(
                    f"Kinesis put_records: {len(records)} records still "
                    f"failing after {put_retries} retries "
                    f"(first ErrorCode: "
                    f"{next(res['ErrorCode'] for res in results if res.get('ErrorCode'))}); "
                    "failing micro-batch so source files are retained"
                )
            time.sleep(retry_backoff_s * (2 ** (attempt - 1)))

    def put_rows(client, rows) -> None:
        import time

        buf: list = []
        buf_born = None
        for row in rows:
            if not buf:
                buf_born = time.monotonic()
            buf.append({"Data": bytes(row.payload), "PartitionKey": row.key})
            # flush on size OR age. The age bound is best-effort: it is
            # only evaluated when the NEXT row arrives, so a stalled
            # upstream leaves an aged buffer unflushed until the
            # iterator ends — unlike the KPL tunable this mirrors,
            # which flushes on a background timer. foreachBatch
            # partition iterators are finite, so the end-of-iterator
            # flush below still bounds latency per micro-batch.
            if len(buf) >= put_batch_size or (
                time.monotonic() - buf_born
            ) * 1000.0 >= record_max_buffered_ms:
                put_with_retry(client, buf)
                buf = []
        if buf:
            put_with_retry(client, buf)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        payloads = batch_df.withColumn(
            "payload", conditional_gzip(F.col("value"), gzip_threshold)
        ).select("key", "payload")
        if client_factory is not None:
            # test/injected path: stream rows to the driver so the
            # injected fake observes every call in-process
            put_rows(client_factory(), payloads.toLocalIterator())
            return

        def put_partition(rows):  # pragma: no cover - needs a live stream
            # one client per executor partition — puts scale with the
            # cluster instead of funnelling every record through the
            # driver
            client = _kinesis_client(
                region,
                access_key=access_key,
                secret_key=secret_key,
                max_connections=max_connections,
                request_timeout_ms=request_timeout_ms,
            )
            put_rows(client, rows)

        payloads.rdd.foreachPartition(put_partition)

    return write_batch


def start_foreach_batch_sink(
    df: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    *,
    checkpoint_dir: str,
    trigger: str | None = DEFAULT_TRIGGER,
    available_now: bool = False,
) -> StreamingQuery:
    writer = df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    return _start(writer, trigger, available_now)


def run_from_config(
    spark: SparkSession,
    cfg,
    *,
    checkpoint_dir: str,
    available_now: bool = False,
    client_factory: Callable | None = None,
) -> StreamingQuery:
    """R-20 bootstrap: an EngineConfig (the reference's a2.* properties)
    becomes one running streaming query — worker count caps batch
    admission, the lock-poll interval becomes the trigger, and the
    broker choice dispatches Kafka sink vs foreachBatch Kinesis."""
    df = build_ingest_stream(
        spark,
        cfg.watched_path,
        max_files_per_trigger=cfg.max_files_per_trigger,
    )
    if cfg.target_broker == "kafka":
        return start_kafka_sink(
            df,
            bootstrap_servers=cfg.kafka_servers,
            topic=cfg.kafka_topic,
            checkpoint_dir=checkpoint_dir,
            trigger=cfg.trigger,
            available_now=available_now,
            kafka_options=cfg.kafka_options,
        )
    write_batch = kinesis_batch_writer(
        cfg.kinesis_stream,
        cfg.kinesis_region,
        access_key=cfg.kinesis_access_key,
        secret_key=cfg.kinesis_access_secret,
        gzip_threshold=cfg.kinesis_gzip_threshold,
        client_factory=client_factory,
        max_connections=cfg.kinesis_max_connections,
        request_timeout_ms=cfg.kinesis_request_timeout_ms,
        record_max_buffered_ms=cfg.kinesis_record_max_buffered_ms,
    )
    return start_foreach_batch_sink(
        df,
        write_batch,
        checkpoint_dir=checkpoint_dir,
        trigger=cfg.trigger,
        available_now=available_now,
    )


@dataclass
class IngestMetrics(StreamingQueryListener):
    """R-16: the CommonJobMgmt MBean counters (files, bytes, elapsed ms)
    fed from the observe() node + progress events instead of JMX
    (CommonJobMgmt.java:19-72). ``phase_ms`` sums each ``durationMs``
    phase over all batches (``getBatch``, ``addBatch``, ``walCommit``,
    ...); its ``triggerExecution`` entry is the total batch time."""

    files: int = 0
    bytes: int = 0
    batches: int = 0
    phase_ms: dict[str, int] = field(default_factory=dict)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        progress = event.progress
        obs = (progress.observedMetrics or {}).get("ingest_metrics")
        if obs is not None:
            self.files += obs["files"] or 0
            self.bytes += obs["bytes"] or 0
        self.batches += 1
        for phase, ms in (progress.durationMs or {}).items():
            self.phase_ms[phase] = self.phase_ms.get(phase, 0) + ms

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
