"""Config surface parity (R-20): same keys, defaults, clamps, and
validation failures as the reference's bootstrap."""

from __future__ import annotations

import pytest

from oraaud_kafka_spark.config import (
    ConfigError,
    EngineConfig,
    load_config,
    parse_properties,
)


def _kafka_conf(d, extra: str = "") -> str:
    return f"""
a2.watched.path = {d}
a2.worker.count = 32
a2.locked.file.query.interval = 512

a2.kafka.servers = broker:9092
a2.kafka.topic = ora-audit-topic
a2.kafka.client.id = a2.audit.test
{extra}
"""


def test_shipped_conf_shape(tmp_path):
    cfg = load_config(_kafka_conf(tmp_path))
    assert cfg.target_broker == "kafka"
    assert cfg.worker_count == 32
    assert cfg.lock_interval_ms == 512
    assert cfg.trigger == "512 milliseconds"
    assert cfg.max_files_per_trigger == 32
    # gzip on by default, client.id forwarded
    assert cfg.kafka_options["compression.type"] == "gzip"
    assert cfg.kafka_options["client.id"] == "a2.audit.test"


def test_defaults(tmp_path):
    cfg = load_config(
        f"a2.watched.path={tmp_path}\na2.kafka.servers=b:9092\n"
        "a2.kafka.topic=t\na2.kafka.client.id=c\n"
    )
    assert cfg.worker_count == 16
    assert cfg.lock_interval_ms == 1000


def test_worker_clamp(tmp_path):
    for raw, expect in (("999", 150), ("-5", 0), ("", 16)):
        cfg = load_config(_kafka_conf(tmp_path).replace("= 32", f"= {raw}", 1))
        assert cfg.worker_count == expect, raw


def test_kafka_passthrough(tmp_path):
    cfg = load_config(
        _kafka_conf(
            tmp_path,
            "a2.kafka.acks = all\na2.kafka.batch.size = 524288\n"
            "a2.kafka.security.protocol = SASL_SSL\n"
            "a2.security.jaas.config = org.apache.kafka.common.security.plain.PlainLoginModule required;",
        )
    )
    assert cfg.kafka_options["acks"] == "all"
    assert cfg.kafka_options["batch.size"] == "524288"
    assert cfg.kafka_options["security.protocol"] == "SASL_SSL"
    assert "sasl.jaas.config" in cfg.kafka_options


def test_kinesis_conf(tmp_path):
    cfg = load_config(
        f"""
a2.target.broker = kinesis
a2.watched.path = {tmp_path}
a2.kinesis.region = eu-west-1
a2.kinesis.stream = ora-aud-test
a2.kinesis.access.key = AK
a2.kinesis.access.secret = SK
a2.kinesis.file.size.threshold = 1024
"""
    )
    assert cfg.target_broker == "kinesis"
    assert cfg.kinesis_gzip_threshold == 1024
    # reference defaults (KinesisSingleton.java)
    assert cfg.kinesis_max_connections == 1
    assert cfg.kinesis_request_timeout_ms == 30000
    assert cfg.kinesis_record_max_buffered_ms == 5000


@pytest.mark.parametrize(
    "mutation",
    [
        lambda c: c.replace("a2.kafka.topic = ora-audit-topic\n", ""),
        lambda c: c.replace("a2.watched.path", "# a2.watched.path"),
        lambda c: c + "a2.target.broker = rabbitmq\n",
    ],
)
def test_validation_failures(tmp_path, mutation):
    with pytest.raises(ConfigError):
        load_config(mutation(_kafka_conf(tmp_path)))


def test_watched_path_must_be_directory(tmp_path):
    f = tmp_path / "somefile"
    f.write_text("x")
    with pytest.raises(ConfigError, match="not a directory"):
        load_config(_kafka_conf(f))


def test_properties_parser():
    props = parse_properties("# comment\n! also\nk = v\nspaced.key=  val  \n")
    assert props == {"k": "v", "spaced.key": "val"}
    with pytest.raises(ConfigError):
        parse_properties("garbage line without equals")


def test_run_from_config_kinesis_end_to_end(spark, tmp_path):
    """Config -> running pipeline: the kinesis branch ships a complete
    audit file through the injected client."""
    from oraaud_kafka_spark.streaming.ingest import run_from_config

    watched = tmp_path / "adump"
    watched.mkdir()
    (watched / "orcl_ora_77_0001.xml").write_text(
        "<Audit><AuditRecord><DB_User>A</DB_User></AuditRecord></Audit>"
    )
    cfg = load_config(
        f"""
a2.target.broker = kinesis
a2.watched.path = {watched}
a2.kinesis.region = eu-west-1
a2.kinesis.stream = s
a2.kinesis.access.key = AK
a2.kinesis.access.secret = SK
"""
    )

    calls: list = []

    class FakeClient:
        def put_records(self, StreamName, Records):
            calls.append((StreamName, Records))
            return {"FailedRecordCount": 0}

    q = run_from_config(
        spark,
        cfg,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        client_factory=FakeClient,
    )
    q.awaitTermination(120)
    q.stop()
    assert len(calls) == 1
    (stream_name, records) = calls[0]
    assert stream_name == "s"
    assert len(records) == 1
    assert records[0]["PartitionKey"].endswith("orcl_ora_77_0001.xml")


@pytest.mark.parametrize(
    "once, trigger",
    [(True, {"availableNow": True}), (False, {"processingTime": "512 milliseconds"})],
)
def test_run_from_config_kafka_trigger(spark, tmp_path, monkeypatch, once, trigger):
    """``--once`` drains the backlog and exits on either broker: the
    Kafka sink starts on an availableNow trigger, and otherwise on the
    lock-poll interval. No connector JAR here, so the writer's trigger
    and start are intercepted."""
    from pyspark.sql.streaming import DataStreamWriter

    from oraaud_kafka_spark.streaming.ingest import run_from_config

    triggers: list = []
    monkeypatch.setattr(
        DataStreamWriter, "trigger", lambda self, **kw: triggers.append(kw) or self
    )
    monkeypatch.setattr(DataStreamWriter, "start", lambda self, *a, **kw: "started")
    cfg = load_config(_kafka_conf(tmp_path))
    q = run_from_config(
        spark, cfg, checkpoint_dir=str(tmp_path / "ckpt"), available_now=once
    )
    assert q == "started"
    assert triggers == [trigger]


def test_run_from_config_signs_kinesis_client_with_configured_keys(
    spark, tmp_path, monkeypatch
):
    """``a2.kinesis.access.key``/``.secret`` reach the default boto3
    client instead of boto3 falling back to ambient credentials.
    Building the client makes no network call."""
    from oraaud_kafka_spark.streaming import ingest

    cfg = load_config(
        f"""
a2.target.broker = kinesis
a2.watched.path = {tmp_path}
a2.kinesis.region = eu-west-1
a2.kinesis.stream = s
a2.kinesis.access.key = AK
a2.kinesis.access.secret = SK
a2.kinesis.max.connections = 4
"""
    )
    seen: dict = {}
    real_writer = ingest.kinesis_batch_writer

    def spy(stream_name, region, **kw):
        seen.update(kw, region=region)
        return real_writer(stream_name, region, **kw)

    monkeypatch.setattr(ingest, "kinesis_batch_writer", spy)
    monkeypatch.setattr(ingest, "start_foreach_batch_sink", lambda *a, **kw: None)
    ingest.run_from_config(spark, cfg, checkpoint_dir=str(tmp_path / "ckpt"))

    client = ingest._kinesis_client(
        seen["region"],
        access_key=seen.get("access_key"),
        secret_key=seen.get("secret_key"),
        max_connections=seen["max_connections"],
        request_timeout_ms=seen["request_timeout_ms"],
    )
    assert client.meta.region_name == "eu-west-1"
    creds = client._request_signer._credentials
    assert (creds.access_key, creds.secret_key) == ("AK", "SK")
    assert client.meta.config.max_pool_connections == 4
