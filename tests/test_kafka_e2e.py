"""Opt-in produce->consume e2e for the Kafka sink (R-13).

The sandbox has neither a broker nor the spark-sql-kafka connector JAR,
so R-13's network leg is asserted here only where one exists: set
``KAFKA_BOOTSTRAP=<host:port>`` (and put the connector JAR on the
classpath, e.g. ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13``)
and this test ships one audit file through the real pipeline and reads
it back, asserting the full KafkaJob.java:43-94 contract:

- key = ``hostname:`` + the file URI         (the reference's
  ``hostname:absoluteFileName``, KafkaJob.java:47, lacks ``file://``)
- value = whole file, newline-STRIPPED       (KafkaJob.java:49-57)
- producer ships compression.type=gzip       (KafkaSingleton.java:97)
  — asserted on the sink's option map; the consumer API decompresses
  transparently, so wire bytes aren't observable from Spark
- the source file is deleted only after the sink commits the batch
  (KafkaJob.java:71 delete-after-ack -> cleanSource=delete, R-15)

Unset (the default here), the test skips cleanly and the option-map /
record-shape tests in test_ingest.py remain the local evidence.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")

pytestmark = pytest.mark.skipif(
    not BOOTSTRAP,
    reason="KAFKA_BOOTSTRAP not set — no broker in this environment",
)


def test_kafka_produce_consume_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from oraaud_kafka_spark.sources.audit_xml import driver_hostname
    from oraaud_kafka_spark.streaming.ingest import (
        build_ingest_stream,
        kafka_records,
        kafka_sink_options,
    )

    watched = tmp_path / "audit"
    watched.mkdir()
    body = (
        '<?xml version="1.0"?>\n<Audit>\n  <AuditRecord>\n'
        "    <DB_User>scott</DB_User>\n  </AuditRecord>\n</Audit>\n"
    )
    fname = watched / "orcl_ora_12345_20260101.xml"
    fname.write_text(body)

    topic = f"oraaud-e2e-{uuid.uuid4().hex[:12]}"
    stream = build_ingest_stream(
        spark, str(watched), clean_source="delete"
    )
    try:
        q = (
            kafka_records(stream)
            .writeStream.format("kafka")
            .options(
                **kafka_sink_options(
                    bootstrap_servers=BOOTSTRAP,
                    topic=topic,
                    checkpoint_dir=str(tmp_path / "ckpt"),
                )
            )
            .trigger(availableNow=True)
            .start()
        )
    except Exception as e:  # pragma: no cover - classpath-dependent
        if "kafka" in str(e).lower() and "data source" in str(e).lower():
            pytest.skip(
                "spark-sql-kafka connector JAR not on the classpath"
            )
        raise
    q.awaitTermination(120)
    q.stop()

    # gzip on the wire is a producer option; assert the sink ran with it
    opts = kafka_sink_options(
        bootstrap_servers=BOOTSTRAP,
        topic=topic,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert opts["kafka.compression.type"] == "gzip"

    # R-15: delete only after the committed batch (cleanSource is
    # asynchronous — poll briefly)
    deadline = time.time() + 30
    while fname.exists() and time.time() < deadline:
        time.sleep(1)
    assert not fname.exists(), "source file must be deleted after commit"

    got = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
        .select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
        )
        .collect()
    )
    assert len(got) == 1, f"expected exactly one record, got {len(got)}"
    rec = got[0]
    assert rec.key == f"{driver_hostname()}:file://{fname}" or rec.key == (
        f"{driver_hostname()}:{fname}"
    ), rec.key  # input_file_name() may or may not carry the URI scheme
    assert rec.value == body.replace("\n", "")
    assert rec.value.endswith("</Audit>")
