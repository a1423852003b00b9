"""Streaming analytics semantics tests (SURVEY.md §5.2 item 4):
watermarked windows, streaming dedup, stream-static and stream-stream
joins, checkpointed restart (at-least-once, no file lost), and the
document pipeline run unchanged under Structured Streaming.

Micro-batch boundaries are forced with maxFilesPerTrigger=1 so state
crosses batches the way it would across real triggers.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from oraaud_kafka_spark.streaming.analytics import (
    stream_static_enrich,
    stream_stream_join,
    streaming_dedup,
    tumbling_counts,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ]
)


def _write_jsonl(path, rows):
    path.write_text("\n".join(json.dumps(r) for r in rows))


def _stream_json(spark, d, schema, **opts):
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.json(str(d))


def _run_to_memory(df, name, output_mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_append_emits_closed_windows(spark, tmp_path):
    d = tmp_path / "ev"
    d.mkdir()
    # batch 1: five events inside 10:00-10:10; batch 2 advances event time
    # to 12:00 (watermark 11:50 closes batch-1 windows); batch 3 advances
    # again so batch 2's window also closes. The 14:00 window stays
    # pending — exactly append-mode watermark semantics.
    _write_jsonl(
        d / "a.json",
        [
            {"event_id": i, "ts": f"2024-05-04 10:0{i}:00", "user_id": 1, "event_type": "view"}
            for i in range(5)
        ],
    )
    _write_jsonl(
        d / "b.json",
        [{"event_id": 10, "ts": "2024-05-04 12:00:00", "user_id": 1, "event_type": "view"}],
    )
    _write_jsonl(
        d / "c.json",
        [{"event_id": 11, "ts": "2024-05-04 14:00:00", "user_id": 1, "event_type": "view"}],
    )
    stream = _stream_json(spark, d, EVENT_SCHEMA)
    q = _run_to_memory(
        tumbling_counts(stream, "ts", "5 minutes", delay="10 minutes"), "tumble"
    )
    try:
        rows = {
            (r.start.strftime("%H:%M"), r.n)
            for r in spark.table("tumble").collect()
        }
        assert rows == {("10:00", 5), ("12:00", 1)}
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    d = tmp_path / "dup"
    d.mkdir()
    base = {"ts": "2024-05-04 10:00:00", "user_id": 1, "event_type": "view"}
    _write_jsonl(d / "a.json", [dict(base, event_id=1), dict(base, event_id=1)])
    _write_jsonl(d / "b.json", [dict(base, event_id=1), dict(base, event_id=2)])
    stream = _stream_json(spark, d, EVENT_SCHEMA)
    q = _run_to_memory(
        streaming_dedup(stream, ["event_id"], ts_col="ts", delay="1 hour"), "dedup"
    )
    try:
        ids = sorted(r.event_id for r in spark.table("dedup").collect())
        # duplicate event 1 (within-batch AND cross-batch) collapses
        assert ids == [1, 2]
    finally:
        q.stop()


def test_stream_static_enrich_broadcasts(spark, tmp_path):
    d = tmp_path / "enrich"
    d.mkdir()
    _write_jsonl(
        d / "a.json",
        [
            {"event_id": 1, "ts": "2024-05-04 10:00:00", "user_id": 7, "event_type": "view"},
            {"event_id": 2, "ts": "2024-05-04 10:01:00", "user_id": 8, "event_type": "click"},
        ],
    )
    dim = spark.createDataFrame([(7, "gold"), (8, "basic")], "user_id long, tier string")
    stream = _stream_json(spark, d, EVENT_SCHEMA)
    q = _run_to_memory(stream_static_enrich(stream, dim, "user_id"), "enriched")
    try:
        tiers = {r.event_id: r.tier for r in spark.table("enriched").collect()}
        assert tiers == {1: "gold", 2: "basic"}
    finally:
        q.stop()


def test_stream_static_enrich_unhinted_for_growing_dims(spark, tmp_path):
    """broadcast_dim=False must produce the same enrichment without the
    forced hint — the scale path for dimensions that grow with the data
    (the planner then sizes the join itself)."""
    d = tmp_path / "enrich_nohint"
    d.mkdir()
    _write_jsonl(
        d / "a.json",
        [
            {"event_id": 1, "ts": "2024-05-04 10:00:00", "user_id": 7, "event_type": "view"},
            {"event_id": 2, "ts": "2024-05-04 10:01:00", "user_id": 8, "event_type": "click"},
        ],
    )
    dim = spark.createDataFrame([(7, "gold"), (8, "basic")], "user_id long, tier string")
    stream = _stream_json(spark, d, EVENT_SCHEMA)
    joined = stream_static_enrich(stream, dim, "user_id", broadcast_dim=False)
    assert "ResolvedHint" not in joined._jdf.queryExecution().analyzed().toString()
    q = _run_to_memory(joined, "enriched_nohint")
    try:
        tiers = {r.event_id: r.tier for r in spark.table("enriched_nohint").collect()}
        assert tiers == {1: "gold", 2: "basic"}
    finally:
        q.stop()


def test_stream_stream_join_time_bounded(spark, tmp_path):
    left_d, right_d = tmp_path / "l", tmp_path / "r"
    left_d.mkdir(), right_d.mkdir()
    _write_jsonl(
        left_d / "a.json",
        [
            {"event_id": 1, "ts": "2024-05-04 10:00:00", "user_id": 1, "event_type": "click"},
            {"event_id": 2, "ts": "2024-05-04 10:30:00", "user_id": 2, "event_type": "click"},
        ],
    )
    _write_jsonl(
        right_d / "a.json",
        [
            # within 5 min of click 1 -> matches
            {"event_id": 11, "ts": "2024-05-04 10:02:00", "user_id": 1, "event_type": "purchase"},
            # 40 min after click 2 -> outside the bound
            {"event_id": 12, "ts": "2024-05-04 11:10:00", "user_id": 2, "event_type": "purchase"},
        ],
    )
    left = _stream_json(spark, left_d, EVENT_SCHEMA).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("click_ts"),
    )
    right = _stream_json(spark, right_d, EVENT_SCHEMA).select(
        F.col("event_id").alias("buy_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("buy_ts"),
    )
    joined = stream_stream_join(
        left,
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 5 MINUTES")),
        left_ts="click_ts",
        right_ts="buy_ts",
        delay="1 hour",
    )
    q = _run_to_memory(joined, "ssj")
    try:
        pairs = {(r.click_id, r.buy_id) for r in spark.table("ssj").collect()}
        assert pairs == {(1, 11)}
    finally:
        q.stop()


def test_checkpoint_restart_no_loss_no_dup(spark, tmp_path):
    """R-15 contract under restart: files seen before the stop are not
    re-shipped (checkpointed source state), files added while down are
    picked up — at-least-once with no loss."""
    from oraaud_kafka_spark.streaming.ingest import (
        build_ingest_stream,
        start_foreach_batch_sink,
    )

    watched = tmp_path / "watched"
    watched.mkdir()
    ckpt = str(tmp_path / "ckpt")
    doc = "<Audit><AuditRecord><DB_User>X</DB_User></AuditRecord></Audit>"
    (watched / "orcl_ora_1_0001.xml").write_text(doc)
    (watched / "orcl_ora_2_0002.xml").write_text(doc)

    shipped: list[str] = []

    def collect(batch_df, batch_id):
        shipped.extend(r.src_file for r in batch_df.select("src_file").collect())

    def run_once():
        df = build_ingest_stream(spark, str(watched), hostname="h", clean_source=None)
        q = start_foreach_batch_sink(
            df, collect, checkpoint_dir=ckpt, available_now=True
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    first = sorted(shipped)
    assert [f.rsplit("/", 1)[-1] for f in first] == [
        "orcl_ora_1_0001.xml",
        "orcl_ora_2_0002.xml",
    ]

    (watched / "orcl_ora_3_0003.xml").write_text(doc)
    run_once()
    second = shipped[len(first):]
    # only the new file — no duplicates of the committed ones
    assert [f.rsplit("/", 1)[-1] for f in second] == ["orcl_ora_3_0003.xml"]


def test_streaming_document_pipeline(spark, tmp_path):
    """The LLM training-data ops run unchanged under Structured
    Streaming: stream-read the documents table, exact-dedup on the
    16-byte md5 fingerprint (shuffles fingerprints, not bodies),
    token-count + quality-flag in the projection, and aggregate per
    language — results must match the identical batch computation."""
    from tests.conftest import SF_DIR

    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def enrich(df):
        toks = F.split("text", " ")
        return (
            df.withColumn("fp", F.md5("text"))
            .dropDuplicates(["fp"])
            .select(
                "lang",
                F.size(toks).alias("n_toks"),
                (F.size(F.array_distinct(toks)) * 2 >= F.size(toks)).alias(
                    "quality_pass"
                ),
            )
        )

    # the file stream source wants a directory, and /root/testdata is
    # read-only — stage a copy
    import shutil

    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src_dir / "documents.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(str(src_dir))
    agg = enrich(stream).groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("total_toks"),
        F.sum(F.col("quality_pass").cast("int")).alias("n_quality"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("doc_pipeline")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "_ck_docs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    got = {
        r.lang: (r.n_docs, r.total_toks, r.n_quality)
        for r in spark.sql("SELECT * FROM doc_pipeline").collect()
    }
    want = {
        r.lang: (r.n_docs, r.total_toks, r.n_quality)
        for r in enrich(batch)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_toks"),
            F.sum(F.col("quality_pass").cast("int")).alias("n_quality"),
        )
        .collect()
    }
    assert got == want and got
