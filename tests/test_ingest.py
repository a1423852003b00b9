"""Golden end-to-end ingest tests (SURVEY.md §5.2 item 2): synthetic
Oracle audit XML corpus -> one streaming trigger -> assert the
reference's R-3/R-5/R-8/R-9/R-10/R-15 semantics on the captured output.
"""

from __future__ import annotations

import gzip
import os
import shutil
import subprocess
import sys
import textwrap
import time

import pytest
from pyspark.sql import functions as F

from oraaud_kafka_spark.functions.gzip_codec import conditional_gzip
from oraaud_kafka_spark.sources.audit_xml import complete_only, read_audit_batch
from oraaud_kafka_spark.streaming.audit_parse import parse_audit_records
from oraaud_kafka_spark.streaming.ingest import (
    IngestMetrics,
    build_ingest_stream,
    kafka_records,
    kinesis_batch_writer,
    start_foreach_batch_sink,
)

AUDIT_DOC = """<?xml version="1.0" encoding="UTF-8"?>
<Audit xmlns="http://xmlns.oracle.com/oracleas/schema/dbserver_audittrail-11_2.xsd">
 <AuditRecord>
  <Audit_Type>1</Audit_Type>
  <Session_Id>{sid}</Session_Id>
  <EntryId>{eid}</EntryId>
  <Extended_Timestamp>2024-05-04T13:50:15.libre</Extended_Timestamp>
  <DB_User>{user}</DB_User>
  <OS_User>oracle</OS_User>
  <Userhost>dbhost01</Userhost>
  <Action>100</Action>
  <Returncode>0</Returncode>
  <Scn>8397516</Scn>
  <Sql_Text>select 1 from dual</Sql_Text>
 </AuditRecord>
</Audit>"""


def _fix_ts(doc: str) -> str:
    return doc.replace("2024-05-04T13:50:15.libre", "2024-05-04T13:50:15.000Z")


def make_corpus(d) -> dict[str, str]:
    files = {
        # complete small file (multi-line: tests newline-strip)
        "orcl_ora_12345_0001.xml": _fix_ts(AUDIT_DOC.format(sid=7, eid=1, user="SCOTT")),
        # truncated file: no closing </Audit>
        "orcl_ora_12346_0002.xml": _fix_ts(
            AUDIT_DOC.format(sid=8, eid=2, user="HR")
        ).rsplit("</Audit>", 1)[0],
        # not-xml suffix: must be invisible to the source
        "notes.txt": "this is not an audit file",
        # empty xml file: completeness gate must withhold it
        "orcl_ora_12347_0003.xml": "",
    }
    for name, content in files.items():
        (d / name).write_text(content)
    return files


def test_batch_decoration_semantics(spark, tmp_path):
    make_corpus(tmp_path)
    df = read_audit_batch(spark, str(tmp_path), hostname="testhost")
    rows = {os.path.basename(r.src_file): r for r in df.collect()}

    # R-3: the .txt file was never read (pathGlobFilter). The zero-byte
    # xml yields NO record at all (text source emits nothing for empty
    # files) — trivially withheld, matching R-10's empty-file fail path.
    assert set(rows) == {
        "orcl_ora_12345_0001.xml",
        "orcl_ora_12346_0002.xml",
    }
    good = rows["orcl_ora_12345_0001.xml"]
    # R-8: newline-strip — whole file is one line
    assert "\n" not in good.value
    # R-9: key = hostname:src_file. src_file is input_file_name(), a
    # file:// URI, so the key is host:file:///abs/path, not the
    # reference's host:/abs/path (KafkaJob.java:47); ROADMAP open item
    assert good.key == f"testhost:{good.src_file}"
    assert good.src_file.startswith("file:///")
    assert good.src_file.endswith("orcl_ora_12345_0001.xml")
    # R-5: pid parsed from *_<pid>_<ts>.xml
    assert good.src_pid == "12345"
    # R-10: completeness predicate
    assert good.is_complete
    assert not rows["orcl_ora_12346_0002.xml"].is_complete

    shipped = complete_only(df)
    withheld = df.filter(~F.col("is_complete"))
    assert shipped.count() == 1
    assert withheld.count() == 1


def test_gate_ignores_trailing_line_breaks(spark, tmp_path):
    """A writer that ends the file with a newline (LF or CRLF, with
    stray spaces/tabs) has still finished it: the gate must pass it,
    and still withhold a truncated file that ends in a newline. Only
    spaces, tabs, CR and LF may follow the final ``</Audit>``: not
    other text, a vertical tab or U+2028 (which Java's ``$`` would let
    through), and a file cut short after an inner ``</Audit>`` is
    withheld."""
    doc = _fix_ts(AUDIT_DOC.format(sid=9, eid=3, user="SYS"))
    files = {
        "orcl_ora_1_lf.xml": doc + "\n",
        "orcl_ora_2_crlf.xml": doc.replace("\n", "\r\n") + "\r\n",
        "orcl_ora_3_mixed.xml": doc + " \t\r\n\n",
        "orcl_ora_4_cut.xml": doc.rsplit("</Audit>", 1)[0] + "\n",
        "orcl_ora_5_text.xml": doc + "x",
        "orcl_ora_6_vtab.xml": doc + "\x0b",
        "orcl_ora_7_lsep.xml": doc + "\u2028",
        "orcl_ora_8_midcut.xml": doc + "\n" + doc[: len(doc) // 2],
    }
    for name, content in files.items():
        (tmp_path / name).write_bytes(content.encode())
    df = read_audit_batch(spark, str(tmp_path), hostname="h")
    got = {os.path.basename(r.src_file): r.is_complete for r in df.collect()}
    assert got == {
        "orcl_ora_1_lf.xml": True,
        "orcl_ora_2_crlf.xml": True,
        "orcl_ora_3_mixed.xml": True,
        "orcl_ora_4_cut.xml": False,
        "orcl_ora_5_text.xml": False,
        "orcl_ora_6_vtab.xml": False,
        "orcl_ora_7_lsep.xml": False,
        "orcl_ora_8_midcut.xml": False,
    }


def test_payload_bytes_of_malformed_utf8(spark, tmp_path):
    """R-8 on bytes: a file with invalid UTF-8 (a Latin-1 ``caf\\xe9``,
    a stray ``\\xff\\xfe``) and CRLF line ends ships each bad byte as
    U+FFFD, as a JDK decode of the file does, with LF removed and CR
    kept — the same bytes on the Kafka value and the Kinesis payload."""
    (tmp_path / "orcl_ora_1_bad.xml").write_bytes(
        b"<Audit>\r\n <R>caf\xe9</R>\r\n <S>\xff\xfe</S>\r\n</Audit>\r\n"
    )
    fffd = "\ufffd".encode()
    expected = (
        b"<Audit>\r <R>caf" + fffd + b"</R>\r <S>" + fffd * 2 + b"</S>\r</Audit>\r"
    )
    df = complete_only(read_audit_batch(spark, str(tmp_path), hostname="h"))
    kafka = kafka_records(df).select(F.col("value").cast("binary").alias("v"))
    assert bytes(kafka.head().v) == expected
    zipped = df.select(conditional_gzip(F.col("value"), -1).alias("p")).head().p
    assert gzip.decompress(bytes(zipped)) == expected
    raw = df.select(conditional_gzip(F.col("value")).alias("p")).head().p
    assert bytes(raw) == expected  # under 512 B: shipped raw


def test_streaming_ingest_memory_sink(spark, tmp_path):
    """One availableNow pass into a collecting sink: R-10 (only the
    complete file ships) and R-16 (IngestMetrics sees its files and
    bytes)."""
    make_corpus(tmp_path)
    stream = build_ingest_stream(
        spark, str(tmp_path), hostname="testhost", clean_source=None
    )
    assert stream.isStreaming
    metrics = IngestMetrics()
    spark.streams.addListener(metrics)
    out: list = []
    try:
        q = start_foreach_batch_sink(
            stream,
            lambda batch_df, _: out.extend(batch_df.collect()),
            checkpoint_dir=str(tmp_path / "_ckm"),
            available_now=True,
        )
        q.awaitTermination(60)
        # only the complete file shipped; truncated + empty withheld
        assert len(out) == 1
        row = out[0]
        assert row.key.startswith("testhost:")
        assert row.src_pid == "12345"
        assert "</Audit>" in row.value and "\n" not in row.value
        # R-16 metrics observed
        deadline = time.time() + 10
        while metrics.files == 0 and time.time() < deadline:
            time.sleep(0.2)
        assert metrics.files == 1
        assert metrics.bytes == len(row.value.encode())
        # every durationMs phase summed, the batch total among them
        assert {"getBatch", "addBatch", "triggerExecution"} <= set(metrics.phase_ms)
    finally:
        spark.streams.removeListener(metrics)


def test_wide_batch_lists_on_the_driver(spark, tmp_path):
    """A micro-batch of more files than Spark's parallel-discovery
    threshold (32) re-lists them in getBatch on the driver, not as a
    Spark job of one task per file. The query runs its jobs in a job
    group named by its runId; with a sink that runs no action, the only
    job it could run is that listing."""
    doc = _fix_ts(AUDIT_DOC.format(sid=1, eid=1, user="SCOTT"))
    for i in range(40):
        (tmp_path / f"orcl_ora_{1000 + i}_0001.xml").write_text(doc)
    q = start_foreach_batch_sink(
        build_ingest_stream(spark, str(tmp_path), hostname="h", clean_source=None),
        lambda batch_df, _: None,
        checkpoint_dir=str(tmp_path / "_ckpt"),
        available_now=True,
    )
    try:
        assert q.awaitTermination(120)
        assert q.exception() is None
        # the status store is fed from the listener bus asynchronously
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = spark.sparkContext.statusTracker()
        assert tracker.getJobIdsForGroup(str(q.runId)) == []
    finally:
        q.stop()


def test_streaming_backlog_then_new_file(spark, tmp_path):
    """R-2 + R-1: pre-existing files land in batch 0; a file added later
    is picked up by a subsequent trigger of the same checkpointed query."""
    make_corpus(tmp_path)
    ckpt = tmp_path / "_ckpt"
    captured: list = []

    def capture(batch_df, batch_id):
        captured.extend(batch_df.collect())

    stream = build_ingest_stream(
        spark, str(tmp_path), hostname="h", clean_source=None
    )
    q = start_foreach_batch_sink(
        stream, capture, checkpoint_dir=str(ckpt), available_now=True
    )
    q.awaitTermination(60)
    assert len(captured) == 1  # backlog file shipped in batch 0

    # new complete file arrives; restart from the same checkpoint
    (tmp_path / "orcl_ora_99999_0004.xml").write_text(
        _fix_ts(AUDIT_DOC.format(sid=9, eid=3, user="SYS"))
    )
    captured.clear()
    q2 = start_foreach_batch_sink(
        build_ingest_stream(spark, str(tmp_path), hostname="h", clean_source=None),
        capture,
        checkpoint_dir=str(ckpt),
        available_now=True,
    )
    q2.awaitTermination(60)
    # checkpoint remembers batch-0 files: ONLY the new file ships (no dups)
    assert len(captured) == 1
    assert captured[0].src_pid == "99999"


def test_foreach_batch_kinesis_style_sink(spark, tmp_path):
    """R-14/R-11: foreachBatch sink with injected fake client; payloads
    above the gzip threshold arrive gzipped (magic bytes)."""
    big_user = "U" * 2000  # pushes the doc past the 512 B threshold
    (tmp_path / "orcl_ora_11111_0001.xml").write_text(
        _fix_ts(AUDIT_DOC.format(sid=1, eid=1, user=big_user))
    )
    (tmp_path / "orcl_ora_22222_0002.xml").write_text(
        "<Audit><AuditRecord><EntryId>1</EntryId></AuditRecord></Audit>"
    )
    captured: list[dict] = []

    class FakeKinesis:
        def put_records(self, StreamName, Records):
            captured.extend(Records)
            return {"FailedRecordCount": 0}

    stream = build_ingest_stream(spark, str(tmp_path), hostname="h", clean_source=None)
    writer = kinesis_batch_writer(
        "audit-stream", "us-east-1", client_factory=lambda: FakeKinesis()
    )
    q = start_foreach_batch_sink(
        stream, writer, checkpoint_dir=str(tmp_path / "_ck2"), available_now=True
    )
    q.awaitTermination(60)

    assert len(captured) == 2
    import re

    by_pid = {
        re.search(r"_(\d+)_[^_]*\.xml$", r["PartitionKey"]).group(1): r["Data"]
        for r in captured
    }
    assert by_pid["22222"][:2] != b"\x1f\x8b"  # small: raw
    assert by_pid["11111"][:2] == b"\x1f\x8b"  # large: gzipped (R-11)
    assert big_user.encode() in gzip.decompress(by_pid["11111"])


def test_clean_source_delete_after_commit(spark, tmp_path):
    """R-15: cleanSource=delete removes consumed files only after the
    batch commits (the reference deletes after producer ack)."""
    make_corpus(tmp_path)
    stream = build_ingest_stream(
        spark, str(tmp_path), hostname="h", clean_source="delete"
    )
    # cleanSource runs as later micro-batches commit, so keep the query
    # ticking (processingTime trigger) until the cleaner fires.
    q = (
        stream.writeStream.format("memory")
        .queryName("delete_capture")
        .option("checkpointLocation", str(tmp_path / "_ck3"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        time.sleep(2)
        # The source cleans batch N's files when batch N+1 (with data)
        # commits — mirror of the reference's delete-after-ACK ordering
        # (KafkaJob.java:71): a file is only removed once its successor
        # batch proves the pipeline advanced past it.
        (tmp_path / "orcl_ora_55555_0009.xml").write_text(
            _fix_ts(AUDIT_DOC.format(sid=5, eid=9, user="OPS"))
        )
        deadline = time.time() + 30
        while (
            (tmp_path / "orcl_ora_12345_0001.xml").exists()
            and time.time() < deadline
        ):
            time.sleep(0.5)
        assert not (
            tmp_path / "orcl_ora_12345_0001.xml"
        ).exists(), "consumed file not deleted"
        # non-matching file untouched
        assert (tmp_path / "notes.txt").exists()
    finally:
        q.stop()


def test_drain_forks_no_readlink(tmp_path):
    """A micro-batch commits three checkpoint files (source log, offset
    WAL, commit log). Without libhadoop, Spark's default checkpoint
    manager renames each through a link-status query that forks
    ``readlink`` 8 times; the session's manager renames with one
    ``rename(2)``. Logging ``readlink``/``chmod`` shims first on the
    JVM's PATH count the forks of one drain."""
    shims, log = tmp_path / "shims", tmp_path / "forks.log"
    shims.mkdir()
    for tool in ("readlink", "chmod"):
        shim = shims / tool
        shim.write_text(f'#!/bin/sh\necho {tool} >> "{log}"\nexec {shutil.which(tool)} "$@"\n')
        shim.chmod(0o755)
    watched = tmp_path / "in"
    watched.mkdir()
    doc = _fix_ts(AUDIT_DOC.format(sid=1, eid=1, user="SCOTT"))
    for i in range(4):
        (watched / f"orcl_ora_{i}_0001.xml").write_text(doc)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {root!r})
        from oraaud_kafka_spark.session import get_spark
        from oraaud_kafka_spark.streaming.ingest import (
            build_ingest_stream, start_foreach_batch_sink)

        spark = get_spark(app_name="fork-count", master="local[1]")
        open({str(log)!r}, "w").close()  # count the drain's forks only
        shipped = []
        q = start_foreach_batch_sink(
            build_ingest_stream(spark, {str(watched)!r}, hostname="h", clean_source=None),
            lambda b, _: shipped.extend(b.select("key").collect()),
            checkpoint_dir={str(tmp_path / "ckpt")!r}, available_now=True)
        q.awaitTermination(120)
        q.stop()
        print("SHIPPED", len(shipped))
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PATH"] = f"{shims}{os.pathsep}{env['PATH']}"
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300
    )
    assert "SHIPPED 4" in out.stdout, out.stderr[-3000:]
    forks = log.read_text().split()
    assert "chmod" in forks  # the shims are on the JVM's PATH
    assert "readlink" not in forks, forks


def test_checkpoint_of_the_default_manager_resumes(spark, tmp_path):
    """A checkpoint written by Spark's default (FileContext) checkpoint
    manager resumes under the session's FileSystem manager: the files it
    committed are not re-shipped, and a file added while down ships."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    session_manager = spark.conf.get(key)
    watched = tmp_path / "in"
    watched.mkdir()
    ckpt = str(tmp_path / "ckpt")
    doc = _fix_ts(AUDIT_DOC.format(sid=1, eid=1, user="SCOTT"))
    (watched / "orcl_ora_1_0001.xml").write_text(doc)
    (watched / "orcl_ora_2_0002.xml").write_text(doc)
    shipped: list[str] = []

    def run_once():
        q = start_foreach_batch_sink(
            build_ingest_stream(spark, str(watched), hostname="h", clean_source=None),
            lambda b, _: shipped.extend(r.src_file.rsplit("/", 1)[-1] for r in b.collect()),
            checkpoint_dir=ckpt,
            available_now=True,
        )
        q.awaitTermination(120)
        q.stop()
        assert q.exception() is None

    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager",
    )
    try:
        run_once()
    finally:
        spark.conf.set(key, session_manager)
    assert sorted(shipped) == ["orcl_ora_1_0001.xml", "orcl_ora_2_0002.xml"]

    (watched / "orcl_ora_3_0003.xml").write_text(doc)
    run_once()
    assert shipped[2:] == ["orcl_ora_3_0003.xml"]


def test_audit_parse_typed_rows(spark, tmp_path):
    (tmp_path / "orcl_ora_1_1.xml").write_text(
        _fix_ts(AUDIT_DOC.format(sid=42, eid=7, user="SCOTT"))
    )
    df = read_audit_batch(spark, str(tmp_path), hostname="h")
    parsed = parse_audit_records(complete_only(df))
    rows = parsed.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.session_id == 42 and r.entry_id == 7
    assert r.db_user == "SCOTT" and r.os_user == "oracle"
    assert r.action == 100 and r.returncode == 0 and r.scn == 8397516
    assert r.sql_text == "select 1 from dual"
    assert r.object_schema is None  # absent element -> NULL
    assert r.event_ts is not None
    assert r.src_pid == "1"  # provenance preserved through the explode


def test_audit_parse_multirecord(spark, tmp_path):
    records = "".join(
        f"<AuditRecord><Session_Id>{i}</Session_Id><EntryId>{i}</EntryId>"
        f"<DB_User>U{i}</DB_User></AuditRecord>"
        for i in range(100)
    )
    (tmp_path / "orcl_ora_5_1.xml").write_text(f"<Audit>{records}</Audit>")
    df = read_audit_batch(spark, str(tmp_path), hostname="h")
    parsed = parse_audit_records(complete_only(df))
    rows = parsed.orderBy("entry_id").collect()
    assert len(rows) == 100
    assert [r.session_id for r in rows] == list(range(100))
    assert rows[99].db_user == "U99"


def _payload_df(spark, n=4):
    """Static frame with the (key, value) contract the ingest stream
    produces — lets the Kinesis writer's foreachBatch body be driven
    directly, no streaming machinery."""
    return spark.createDataFrame(
        [(f"h:/audit/f{i}.xml", f"<Audit>doc {i}</Audit>") for i in range(n)],
        "key string, value string",
    )


def test_kinesis_partial_failure_retries_only_failed(spark):
    """A 200 response with FailedRecordCount>0 (throttling) must retry
    ONLY the records whose result carries an ErrorCode, and every record
    must eventually be delivered exactly once per successful put."""
    calls: list[list] = []

    class ThrottlingKinesis:
        def put_records(self, StreamName, Records):
            calls.append(list(Records))
            if len(calls) == 1:
                # fail every odd-indexed record on the first attempt
                results = [
                    {"ErrorCode": "ProvisionedThroughputExceededException"}
                    if i % 2
                    else {"SequenceNumber": str(i)}
                    for i in range(len(Records))
                ]
                return {
                    "FailedRecordCount": len(Records) // 2,
                    "Records": results,
                }
            return {"FailedRecordCount": 0}

    writer = kinesis_batch_writer(
        "s",
        "us-east-1",
        client_factory=ThrottlingKinesis,
        retry_backoff_s=0.0,
        # this test pins SIZE-batched put/retry shapes; on a loaded box
        # toLocalIterator can stall >5s between rows and the default
        # age flush would split the first put (observed flake under a
        # concurrent full-suite + gate-sim run)
        record_max_buffered_ms=3_600_000,
    )
    writer(_payload_df(spark, 4), 0)

    assert len(calls) == 2
    # first attempt ships all 4; the retry ships exactly the 2 failed
    assert len(calls[0]) == 4
    assert [r["PartitionKey"] for r in calls[1]] == [
        "h:/audit/f1.xml",
        "h:/audit/f3.xml",
    ]


def test_kinesis_exhausted_retries_fail_batch(spark):
    """If retries exhaust, the micro-batch must raise (-> not committed,
    cleanSource keeps the files) instead of silently dropping records."""
    n_calls = 0

    class AlwaysThrottled:
        def put_records(self, StreamName, Records):
            nonlocal n_calls
            n_calls += 1
            return {
                "FailedRecordCount": len(Records),
                "Records": [
                    {"ErrorCode": "InternalFailure"} for _ in Records
                ],
            }

    writer = kinesis_batch_writer(
        "s",
        "us-east-1",
        client_factory=AlwaysThrottled,
        put_retries=2,
        retry_backoff_s=0.0,
    )
    with pytest.raises(RuntimeError, match="still failing after 2 retries"):
        writer(_payload_df(spark, 3), 0)
    assert n_calls == 3  # initial + 2 retries


def test_kinesis_malformed_failure_response_fails_batch(spark):
    """FailedRecordCount>0 with a missing Records list means we cannot
    identify WHICH records were dropped — the batch must raise (length
    guard) rather than silently report success (lost records)."""

    class MalformedKinesis:
        def put_records(self, StreamName, Records):
            return {"FailedRecordCount": 1}  # no Records list at all

    writer = kinesis_batch_writer(
        "s",
        "us-east-1",
        client_factory=MalformedKinesis,
        retry_backoff_s=0.0,
    )
    with pytest.raises(RuntimeError, match="malformed response: 0 per-record"):
        writer(_payload_df(spark, 3), 0)


def test_kinesis_failed_count_without_error_codes_fails_batch(spark):
    """A full-length Records list with FailedRecordCount>0 but zero
    ErrorCode entries is self-contradictory — failing records exist but
    none are identifiable. Must raise, not loop or commit."""

    class NoErrorCodeKinesis:
        def put_records(self, StreamName, Records):
            return {
                "FailedRecordCount": 1,
                "Records": [{"SequenceNumber": str(i)} for i in range(len(Records))],
            }

    writer = kinesis_batch_writer(
        "s",
        "us-east-1",
        client_factory=NoErrorCodeKinesis,
        retry_backoff_s=0.0,
    )
    with pytest.raises(RuntimeError, match="no per-record ErrorCode"):
        writer(_payload_df(spark, 3), 0)


def test_kinesis_short_records_list_fails_batch(spark):
    """A response whose Records list is SHORTER than the sent batch but
    still contains an ErrorCode must fail the batch: the tail records
    beyond the truncated list were never checked, so positional error
    attribution is impossible — zip()-ing would retry the covered
    failures yet silently commit the unchecked tail (data loss)."""
    calls = 0

    class ShortRecordsKinesis:
        def put_records(self, StreamName, Records):
            nonlocal calls
            calls += 1
            # 2 results for 3 records, one identifiable failure
            return {
                "FailedRecordCount": 1,
                "Records": [
                    {"SequenceNumber": "0"},
                    {"ErrorCode": "InternalFailure"},
                ],
            }

    writer = kinesis_batch_writer(
        "s",
        "us-east-1",
        client_factory=ShortRecordsKinesis,
        retry_backoff_s=0.0,
    )
    with pytest.raises(RuntimeError, match="malformed response: 2 per-record"):
        writer(_payload_df(spark, 3), 0)
    assert calls == 1  # fail immediately, no blind retry loop


def test_kinesis_buffered_time_flushes_partial_batch(spark):
    """a2.kinesis.request.record.max.buffered.time
    (KinesisSingleton.java:132-142): a partially-filled put buffer must
    flush once it exceeds the buffered-time bound instead of waiting for
    put_batch_size rows."""
    calls: list[int] = []

    class CountingKinesis:
        def put_records(self, StreamName, Records):
            calls.append(len(Records))
            return {"FailedRecordCount": 0}

    writer = kinesis_batch_writer(
        "s",
        "us-east-1",
        client_factory=CountingKinesis,
        put_batch_size=500,  # never reached by 4 rows
        record_max_buffered_ms=0,  # every row is instantly "too old"
        retry_backoff_s=0.0,
    )
    writer(_payload_df(spark, 4), 0)
    # age bound 0 ms -> each row flushes alone; size bound would have
    # produced a single 4-record call
    assert calls == [1, 1, 1, 1]


def test_kafka_sink_option_mapping():
    """R-13: producer tunables (KafkaSingleton.java:107-139) must reach
    the sink kafka.-prefixed whether or not the caller prefixed them;
    topic/checkpointLocation stay sink-level (unprefixed)."""
    from oraaud_kafka_spark.streaming.ingest import kafka_sink_options

    opts = kafka_sink_options(
        bootstrap_servers="b1:9092,b2:9092",
        topic="audit",
        checkpoint_dir="/ckpt",
        kafka_options={
            "acks": "all",
            "batch.size": 262144,
            "kafka.linger.ms": "100",
            "security.protocol": "SASL_SSL",
        },
    )
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["topic"] == "audit"
    assert opts["checkpointLocation"] == "/ckpt"
    assert opts["kafka.compression.type"] == "gzip"  # KafkaSingleton default
    assert opts["kafka.acks"] == "all"
    assert opts["kafka.batch.size"] == "262144"
    assert opts["kafka.linger.ms"] == "100"  # already-prefixed: untouched
    assert opts["kafka.security.protocol"] == "SASL_SSL"
    # nothing leaks in unprefixed (a bare "acks" would be silently
    # ignored by the sink instead of configuring the producer)
    assert "acks" not in opts and "batch.size" not in opts


def test_kafka_sink_record_contract(spark, tmp_path):
    """R-13: the exact ProducerRecord projection start_kafka_sink ships
    (kafka_records), driven through foreachBatch so no broker is
    needed: key = host:file URI (the reference's
    host:absolute_file, KafkaJob.java:47, has no ``file://``),
    value = whole file with newlines stripped (KafkaJob.java:60-80),
    incomplete files never shipped."""
    make_corpus(tmp_path)
    captured = []

    def capture(batch_df, batch_id):
        captured.extend(kafka_records(batch_df).collect())

    stream = build_ingest_stream(
        spark, str(tmp_path), hostname="kafkahost", clean_source=None
    )
    q = start_foreach_batch_sink(
        stream, capture, checkpoint_dir=str(tmp_path / "_ckk"), available_now=True
    )
    q.awaitTermination(60)

    assert len(captured) == 1  # only the complete file ships
    rec = captured[0]
    assert set(rec.asDict()) == {"key", "value"}  # the wire columns, nothing else
    host, _, path = rec.key.partition(":")
    assert host == "kafkahost" and path.endswith("orcl_ora_12345_0001.xml")
    assert "\n" not in rec.value and "\r" not in rec.value
    assert rec.value.startswith("<?xml") and rec.value.endswith("</Audit>")

