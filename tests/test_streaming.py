"""Streaming analytics semantics tests (SURVEY.md §5.2 item 4):
watermarked windows, streaming dedup, stream-static and stream-stream
joins, the stateful retry-until-complete operator, and checkpointed
restart (at-least-once, no file lost).

Micro-batch boundaries are forced with maxFilesPerTrigger=1 so state
crosses batches the way it would across real triggers.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
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


def test_running_type_stats_accumulates_across_batches(spark, tmp_path):
    """transformWithStateInPandas ValueState carries cumulative stats
    across micro-batches (Update mode re-emits running totals). The
    container lacks google.protobuf (the API's state-protocol
    dependency), so locally the import gate must raise the documented
    actionable error; with protobuf present the full stream runs."""
    import pytest
    from pyspark.sql.types import DoubleType

    from oraaud_kafka_spark.streaming.analytics import (
        running_type_stats,
        transform_with_state_available,
    )

    d = tmp_path / "twspi"
    d.mkdir()
    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    _write_jsonl(
        d / "b1.json",
        [
            {"event_type": "view", "value": 1.0},
            {"event_type": "view", "value": 2.0},
            {"event_type": "click", "value": 10.0},
        ],
    )
    _write_jsonl(d / "b2.json", [{"event_type": "view", "value": 4.0}])
    stream = _stream_json(spark, d, schema, latestFirst="false")

    if not transform_with_state_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            running_type_stats(stream)
        return

    q = (
        running_type_stats(stream)
        .writeStream.format("memory")
        .queryName("twspi")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        last = {r.event_type: r for r in spark.table("twspi").collect()}
        assert last["view"].n_events == 3
        assert last["view"].total_value == 7.0
        assert last["view"].max_value == 4.0
        assert last["click"].n_events == 1
    finally:
        q.stop()


EWMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
    ]
)


def test_ewma_levels_match_batch_fold_across_batches(spark, tmp_path):
    """Streaming EWMA state must carry across micro-batches: slicing the
    same ordered rows into two batches yields exactly the single-pass
    zero-seeded fold of the full sequence (the batch q_time_ewma_level
    semantics)."""
    from oraaud_kafka_spark.streaming.analytics import EWMA_ALPHA, ewma_levels

    d = tmp_path / "ewma"
    d.mkdir()
    batch1 = [
        {"user_id": 1, "ts": "2026-01-01T00:00:00", "event_id": 1, "value": 10.0},
        {"user_id": 1, "ts": "2026-01-01T00:01:00", "event_id": 2, "value": 20.0},
        {"user_id": 2, "ts": "2026-01-01T00:00:30", "event_id": 3, "value": 5.0},
    ]
    batch2 = [
        {"user_id": 1, "ts": "2026-01-01T00:02:00", "event_id": 4, "value": 30.0},
        {"user_id": 2, "ts": "2026-01-01T00:03:00", "event_id": 5, "value": 7.0},
    ]
    _write_jsonl(d / "b1.json", batch1)
    _write_jsonl(d / "b2.json", batch2)
    stream = _stream_json(spark, d, EWMA_SCHEMA, latestFirst="false")
    q = _run_to_memory(ewma_levels(stream), "ewma", output_mode="update")
    try:
        rows = spark.table("ewma").collect()
        # update mode appends one row per (key, batch) to the memory
        # sink; the LAST row per key is the live level
        latest = {}
        for r in rows:
            latest[r.user_id] = r
        expected = {}
        for u, vals in ((1, [10.0, 20.0, 30.0]), (2, [5.0, 7.0])):
            lvl = 0.0
            for v in vals:
                lvl = EWMA_ALPHA * v + (1 - EWMA_ALPHA) * lvl
            expected[u] = (len(vals), lvl)
        assert set(latest) == {1, 2}
        for u, (n, lvl) in expected.items():
            assert latest[u].n_events == n
            assert abs(latest[u].ewma_level - lvl) < 1e-12
    finally:
        q.stop()


def test_rollup_maintainer_equals_batch_recompute(spark, tmp_path):
    """Streaming incremental rollup: two micro-batches merged into the
    standing table must equal a from-scratch rollup over all rows, and
    a replayed batch id must be a no-op (idempotency marker)."""
    from pyspark.sql import functions as F

    from oraaud_kafka_spark.streaming.analytics import (
        current_rollup_dir,
        rollup_maintainer,
    )

    d = tmp_path / "events"
    d.mkdir()
    rows1 = [
        {"user_id": 1, "ts": "2026-01-01T00:05:00", "event_id": 1,
         "event_type": "view", "value": 10.0},
        {"user_id": 2, "ts": "2026-01-01T00:45:00", "event_id": 2,
         "event_type": "view", "value": 4.0},
        {"user_id": 1, "ts": "2026-01-01T01:10:00", "event_id": 3,
         "event_type": "click", "value": 2.5},
    ]
    rows2 = [
        {"user_id": 3, "ts": "2026-01-01T00:20:00", "event_id": 4,
         "event_type": "view", "value": 6.0},
        {"user_id": 1, "ts": "2026-01-01T01:30:00", "event_id": 5,
         "event_type": "click", "value": 1.5},
    ]
    _write_jsonl(d / "b1.json", rows1)
    _write_jsonl(d / "b2.json", rows2)
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    out = tmp_path / "rollup"
    out.mkdir()
    writer = rollup_maintainer(str(out))
    stream = _stream_json(spark, d, schema, latestFirst="false")
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    maintained = {
        (r.event_type, r.h): (r.n, float(r.dec_sum), r.min_value, r.max_value)
        for r in spark.read.parquet(current_rollup_dir(str(out))).collect()
    }
    all_rows = spark.createDataFrame(
        [tuple(r.values()) for r in rows1 + rows2],
        "user_id long, ts string, event_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    direct = {
        (r.event_type, r.h): (r.n, float(r.dec_sum), r.min_value, r.max_value)
        for r in all_rows.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("dec_sum"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert maintained == direct
    # replay the last batch id: must be a no-op
    before = maintained
    writer(all_rows, 1)
    after = {
        (r.event_type, r.h): (r.n, float(r.dec_sum), r.min_value, r.max_value)
        for r in spark.read.parquet(current_rollup_dir(str(out))).collect()
    }
    assert after == before


def test_ewma_state_survives_checkpoint_restart(spark, tmp_path):
    """applyInPandasWithState durability: stop the EWMA stream after the
    first batch, restart from the checkpoint with a new file, and the
    recovered level must continue the fold exactly where the first run
    left it (state store recovery, not recomputation from scratch)."""
    from oraaud_kafka_spark.streaming.analytics import EWMA_ALPHA, ewma_levels

    d = tmp_path / "ewma_ckpt"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_jsonl(
        d / "b1.json",
        [
            {"user_id": 1, "ts": "2026-01-01T00:00:00", "event_id": 1, "value": 10.0},
            {"user_id": 1, "ts": "2026-01-01T00:01:00", "event_id": 2, "value": 20.0},
        ],
    )

    emitted: list = []

    def run_once():
        # memory sink cannot RECOVER from a checkpoint; foreachBatch can
        def collect(batch_df, batch_id):
            emitted.extend(batch_df.collect())

        stream = _stream_json(spark, d, EWMA_SCHEMA, latestFirst="false")
        q = (
            ewma_levels(stream)
            .writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    lvl1 = 0.0
    for v in (10.0, 20.0):
        lvl1 = EWMA_ALPHA * v + (1 - EWMA_ALPHA) * lvl1
    assert emitted and abs(emitted[-1].ewma_level - lvl1) < 1e-12
    n_first = len(emitted)

    # new data arrives while the query is down; restart from checkpoint
    _write_jsonl(
        d / "b2.json",
        [{"user_id": 1, "ts": "2026-01-01T00:02:00", "event_id": 3, "value": 30.0}],
    )
    run_once()
    new_rows = emitted[n_first:]
    assert new_rows
    expected = EWMA_ALPHA * 30.0 + (1 - EWMA_ALPHA) * lvl1
    last = new_rows[-1]
    # continued from recovered state: 3 events total, level folds on
    assert last.n_events == 3
    assert abs(last.ewma_level - expected) < 1e-12


def test_holt_levels_match_batch_fold_across_batches(spark, tmp_path):
    """Streaming Holt state must carry across micro-batches: slicing the
    same ordered rows into two batches yields exactly the single-pass
    zero-seeded level+trend fold of the full sequence (the batch
    q_time_holt_trend semantics), NaT-ts rows excluded."""
    from oraaud_kafka_spark.streaming.analytics import (
        HOLT_ALPHA,
        HOLT_BETA,
        holt_levels,
    )

    d = tmp_path / "holt"
    d.mkdir()
    batch1 = [
        {"user_id": 1, "ts": "2026-01-01T00:00:00", "event_id": 1, "value": 10.0},
        {"user_id": 1, "ts": "2026-01-01T00:01:00", "event_id": 2, "value": 20.0},
        {"user_id": 2, "ts": "2026-01-01T00:00:30", "event_id": 3, "value": 5.0},
        {"user_id": 2, "ts": None, "event_id": 6, "value": 99.0},  # NaT: drop
    ]
    batch2 = [
        {"user_id": 1, "ts": "2026-01-01T00:02:00", "event_id": 4, "value": 30.0},
        {"user_id": 2, "ts": "2026-01-01T00:03:00", "event_id": 5, "value": 7.0},
    ]
    _write_jsonl(d / "b1.json", batch1)
    _write_jsonl(d / "b2.json", batch2)
    stream = _stream_json(spark, d, EWMA_SCHEMA, latestFirst="false")
    q = _run_to_memory(holt_levels(stream), "holt", output_mode="update")
    try:
        rows = spark.table("holt").collect()
        latest = {}
        for r in rows:
            latest[r.user_id] = r
        expected = {}
        for u, vals in ((1, [10.0, 20.0, 30.0]), (2, [5.0, 7.0])):
            level = trend = 0.0
            for v in vals:
                new_level = HOLT_ALPHA * v + (1 - HOLT_ALPHA) * (level + trend)
                trend = HOLT_BETA * (new_level - level) + (1 - HOLT_BETA) * trend
                level = new_level
            expected[u] = (len(vals), level, trend)
        assert set(latest) == {1, 2}
        for u, (n, level, trend) in expected.items():
            assert latest[u].n_events == n
            assert abs(latest[u].level - level) < 1e-12
            assert abs(latest[u].trend - trend) < 1e-12
            assert abs(latest[u].forecast_next - (level + trend)) < 1e-12
    finally:
        q.stop()


CUSUM_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
    ]
)


def test_cusum_monitor_matches_python_fold_across_batches(spark, tmp_path):
    """Streaming CUSUM vs a fixed target mean must carry state across
    micro-batches: two slices fold to exactly the single-pass Python
    CUSUM of the full ordered sequence, peak included."""
    from oraaud_kafka_spark.streaming.analytics import cusum_monitor

    d = tmp_path / "cusum"
    d.mkdir()
    batch1 = [
        {"event_type": "click", "ts": "2026-01-01T00:00:00", "event_id": 1, "value": 10.0},
        {"event_type": "click", "ts": "2026-01-01T00:01:00", "event_id": 2, "value": 2.0},
        {"event_type": "view", "ts": "2026-01-01T00:00:30", "event_id": 3, "value": 5.0},
        {"event_type": "view", "ts": None, "event_id": 4, "value": 99.0},  # dropped
    ]
    batch2 = [
        {"event_type": "click", "ts": "2026-01-01T00:02:00", "event_id": 5, "value": 30.0},
        # 0.125 * 100 = 12.5 exactly: banker's rounding would give 12,
        # the batch twin's half-up gives 13 — pins the rounding mode
        {"event_type": "click", "ts": "2026-01-01T00:02:30", "event_id": 7, "value": 0.125},
        {"event_type": "view", "ts": "2026-01-01T00:03:00", "event_id": 6, "value": 7.0},
    ]
    _write_jsonl(d / "b1.json", batch1)
    _write_jsonl(d / "b2.json", batch2)
    targets = {"click": 800.0, "view": 550.0}  # cents
    stream = _stream_json(spark, d, CUSUM_SCHEMA, latestFirst="false")
    q = _run_to_memory(
        cusum_monitor(stream, targets), "cusum", output_mode="update"
    )
    try:
        latest = {}
        for r in spark.table("cusum").collect():
            latest[r.event_type] = r
        expected = {}
        from decimal import ROUND_HALF_UP, Decimal

        for et, vals in (("click", [10.0, 2.0, 30.0, 0.125]),
                         ("view", [5.0, 7.0])):
            c, peak = 0.0, 0.0
            for v in vals:
                cents = int(Decimal(v * 100).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP))
                assert (v != 0.125) or cents == 13  # not banker's 12
                c += cents - targets[et]
                peak = max(peak, abs(c))
            expected[et] = (len(vals), c / 100, peak / 100)
        assert set(latest) == set(expected)
        for et, (n, c, p) in expected.items():
            assert latest[et].n_events == n
            assert abs(latest[et].cusum_dollars - c) < 1e-9
            assert abs(latest[et].peak_abs_dollars - p) < 1e-9
    finally:
        q.stop()


def test_psi_monitor_matches_python_fold_across_batches(spark, tmp_path):
    """Streaming PSI vs a fixed reference distribution must carry the
    bucket counts across micro-batches: two slices fold to exactly the
    Laplace-smoothed PSI of the combined counts, with the batch
    operator's band thresholds; a type with no reference reports
    no_reference with NULL psi."""
    import math

    from oraaud_kafka_spark.streaming.analytics import (
        PSI_MONITOR_BUCKETS,
        PSI_MONITOR_WIDTH,
        psi_monitor,
    )

    d = tmp_path / "psi"
    d.mkdir()
    batch1 = [
        {"event_type": "click", "ts": "2026-01-01T00:00:00", "event_id": 1, "value": 5.0},
        {"event_type": "click", "ts": "2026-01-01T00:01:00", "event_id": 2, "value": 95.0},
        {"event_type": "click", "ts": "2026-01-01T00:01:30", "event_id": 3, "value": 120.0},  # clamps to last bucket
        {"event_type": "other", "ts": "2026-01-01T00:02:00", "event_id": 4, "value": 1.0},
    ]
    batch2 = [
        {"event_type": "click", "ts": "2026-01-01T00:03:00", "event_id": 5, "value": 15.0},
        {"event_type": "click", "ts": "2026-01-01T00:03:30", "event_id": 6, "value": None},  # dropped
        {"event_type": "click", "ts": "2026-01-01T00:04:00", "event_id": 7, "value": 17.0},
    ]
    _write_jsonl(d / "b1.json", batch1)
    _write_jsonl(d / "b2.json", batch2)
    B = PSI_MONITOR_BUCKETS
    ref = {"click": [1.0 / B] * B}  # uniform reference
    stream = _stream_json(spark, d, CUSUM_SCHEMA, latestFirst="false")
    q = _run_to_memory(psi_monitor(stream, ref), "psi", output_mode="update")
    try:
        latest = {}
        for r in spark.table("psi").collect():
            latest[r.event_type] = r
        counts = [0] * B
        for v in (5.0, 95.0, 120.0, 15.0, 17.0):
            counts[min(B - 1, int(v // PSI_MONITOR_WIDTH))] += 1
        n = sum(counts)
        psi = sum(
            ((c + 1) / (n + B) - 1.0 / B)
            * math.log(((c + 1) / (n + B)) / (1.0 / B))
            for c in counts
        )
        assert latest["click"].n_events == n
        assert abs(latest["click"].psi - round(psi, 6)) < 1e-9
        assert latest["click"].band == (
            "stable" if psi < 0.1
            else "moderate_shift" if psi < 0.25 else "major_shift"
        )
        assert latest["other"].psi is None
        assert latest["other"].band == "no_reference"
        assert latest["other"].n_events == 1
    finally:
        q.stop()


def test_psi_monitor_rejects_unnormalized_reference(spark):
    """An unnormalized reference would silently bias PSI and shift the
    drift band; the monitor must fail fast at build time instead."""
    import pytest

    from oraaud_kafka_spark.streaming.analytics import (
        PSI_MONITOR_BUCKETS,
        psi_monitor,
    )

    B = PSI_MONITOR_BUCKETS
    df = spark.readStream.format("rate").load().selectExpr(
        "'click' AS event_type", "CAST(value AS DOUBLE) AS value"
    )
    with pytest.raises(ValueError, match="sum to 1"):
        psi_monitor(df, {"click": [2.0 / B] * B})
    with pytest.raises(ValueError, match="strictly positive"):
        psi_monitor(df, {"click": [1.0 / B] * (B - 1)})
    # exactly normalized passes validation (plan built, never started)
    psi_monitor(df, {"click": [1.0 / B] * B})


HH_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
    ]
)


def _hh_rows():
    """18 click events over 10 users (capacity is 8, forcing eviction
    churn): user 1 x6, user 2 x4, users 3..10 x1, interleaved."""
    seq = [1, 3, 1, 4, 2, 5, 1, 6, 2, 7, 1, 8, 2, 9, 1, 10, 2, 1]
    rows = []
    for i, u in enumerate(seq):
        rows.append(
            {
                "event_type": "click",
                "ts": f"2026-01-01T00:{i:02d}:00",
                "event_id": i + 1,
                "user_id": u,
            }
        )
    return rows


def _hh_latest(spark, table):
    """Rows of the LAST emitted batch per (event_type, rank)."""
    latest = {}
    for r in spark.table(table).collect():
        key = (r.event_type, r.rank)
        if key not in latest or r.n_events >= latest[key].n_events:
            latest[key] = r
    return latest


def test_heavy_hitters_monitor_batch_slicing_invariant(spark, tmp_path):
    """Space-Saving monitor state must be identical whether the ordered
    input arrives as one micro-batch or two, and every emitted counter
    must satisfy the classic guarantee
    count_upper - err <= true_count <= count_upper."""
    from collections import Counter

    from oraaud_kafka_spark.streaming.analytics import (
        heavy_hitters_monitor,
    )

    rows = _hh_rows()
    true_counts = Counter(r["user_id"] for r in rows)

    d1 = tmp_path / "hh_split"
    d1.mkdir()
    _write_jsonl(d1 / "b1.json", rows[:9])
    _write_jsonl(d1 / "b2.json", rows[9:])
    d2 = tmp_path / "hh_one"
    d2.mkdir()
    _write_jsonl(d2 / "all.json", rows)

    finals = []
    for d, name in ((d1, "hh_split"), (d2, "hh_one")):
        stream = _stream_json(spark, d, HH_SCHEMA, latestFirst="false")
        q = _run_to_memory(
            heavy_hitters_monitor(stream), name, output_mode="update"
        )
        try:
            latest = _hh_latest(spark, name)
        finally:
            q.stop()
        finals.append(latest)

    split, one = finals
    assert set(split) == set(one)
    for key in split:
        a, b = split[key], one[key]
        assert (a.item, a.count_upper, a.err, a.guaranteed) == (
            b.item,
            b.count_upper,
            b.err,
            b.guaranteed,
        ), f"slicing changed monitor output at {key}"

    # guarantee bounds vs exact counts; the two genuinely frequent
    # users were never evicted: exact counts, zero error
    for r in split.values():
        assert r.n_events == len(rows)
        t = true_counts[r.item]
        assert r.count_upper - r.err <= t <= r.count_upper
    by_item = {r.item: r for r in split.values()}
    assert by_item[1].count_upper == 6 and by_item[1].err == 0
    assert by_item[2].count_upper == 4 and by_item[2].err == 0
    assert split[("click", 1)].item == 1
    assert split[("click", 2)].item == 2


def test_reservoir_monitor_equals_batch_selection_any_slicing(spark, tmp_path):
    """The live reservoir must equal the BATCH md5-rank top-k over the
    rows seen so far — for any micro-batch slicing — because selection
    is a pure function of the rows (rank = md5(event_id|salt)), not of
    arrival order. Also checks n_events bookkeeping."""
    import hashlib

    from oraaud_kafka_spark.streaming.analytics import (
        RESERVOIR_MONITOR_K,
        RESERVOIR_MONITOR_SALT,
        reservoir_monitor,
    )

    rows = [
        {
            "event_type": "click",
            "ts": f"2026-01-01T00:{i:02d}:00",
            "event_id": 100 + i,
            "user_id": i,
        }
        for i in range(12)
    ]

    def batch_topk(ids):
        ranked = sorted(
            (hashlib.md5(f"{i}|{RESERVOIR_MONITOR_SALT}".encode()).hexdigest(), i)
            for i in ids
        )
        return ranked[:RESERVOIR_MONITOR_K]

    finals = []
    for slices, name in ((1, "rsv_one"), (3, "rsv_three")):
        d = tmp_path / name
        d.mkdir()
        step = len(rows) // slices
        for s in range(slices):
            chunk = rows[s * step : (s + 1) * step if s < slices - 1 else len(rows)]
            _write_jsonl(d / f"b{s}.json", chunk)
        stream = _stream_json(spark, d, HH_SCHEMA, latestFirst="false")
        q = _run_to_memory(reservoir_monitor(stream), name, output_mode="update")
        try:
            latest = {}
            for r in spark.table(name).collect():
                key = (r.event_type, r.rank)
                if key not in latest or r.n_events >= latest[key].n_events:
                    latest[key] = r
        finally:
            q.stop()
        finals.append(latest)

    expected = batch_topk([r["event_id"] for r in rows])
    for latest in finals:
        assert len(latest) == RESERVOIR_MONITOR_K
        for rank, (rk, eid) in enumerate(expected, start=1):
            got = latest[("click", rank)]
            assert (got.event_id, got.rank_key) == (eid, rk)
            assert got.n_events == len(rows)
    # both slicings byte-identical
    a, b = finals
    assert {(k, v.event_id) for k, v in a.items()} == {
        (k, v.event_id) for k, v in b.items()
    }


def test_heavy_hitters_state_survives_checkpoint_restart(spark, tmp_path):
    """Space-Saving monitor durability: stop after the first batch,
    restart from the checkpoint with new data, and the recovered
    counter table must continue the fold from the stored state — the
    restarted run's output must equal a single uninterrupted run over
    all rows (which slicing-invariance already equates to the
    one-batch fold)."""
    from oraaud_kafka_spark.streaming.analytics import heavy_hitters_monitor

    rows = _hh_rows()
    d = tmp_path / "hh_ckpt"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_jsonl(d / "b1.json", rows[:9])

    emitted: list = []

    def run_once():
        def collect(batch_df, batch_id):
            emitted.extend(batch_df.collect())

        stream = _stream_json(spark, d, HH_SCHEMA, latestFirst="false")
        q = (
            heavy_hitters_monitor(stream)
            .writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    n_first = len(emitted)
    assert n_first
    _write_jsonl(d / "b2.json", rows[9:])
    run_once()
    new_rows = [r for r in emitted[n_first:] if r.event_type == "click"]
    assert new_rows
    final = {r.rank: r for r in new_rows if r.n_events == len(rows)}
    # replicate the deterministic fold over ALL rows in one pass
    from oraaud_kafka_spark.streaming.analytics import (
        HH_MONITOR_CAPACITY,
        HH_MONITOR_TOPK,
    )

    table: dict[int, list[int]] = {}
    for r in rows:
        item = r["user_id"]
        if item in table:
            table[item][0] += 1
        elif len(table) < HH_MONITOR_CAPACITY:
            table[item] = [1, 0]
        else:
            victim = min(table, key=lambda it: (table[it][0], it))
            vcount = table[victim][0]
            del table[victim]
            table[item] = [vcount + 1, vcount]
    top = sorted(table.items(), key=lambda kv: (-kv[1][0], kv[0]))[
        :HH_MONITOR_TOPK
    ]
    assert len(final) == len(top)
    for rank, (item, (count, err)) in enumerate(top, start=1):
        got = final[rank]
        assert (got.item, got.count_upper, got.err) == (item, count, err)


FUNNEL_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
    ]
)


def test_funnel_monitor_matches_batch_funnel(spark, tmp_path):
    """The live per-user funnel fold, fed time-ordered micro-batches,
    must produce exactly the registered batch funnel's per-stage user
    counts over the same rows — including the strict after-previous-
    stage rule (the view-before-signup rows must NOT count)."""
    import os as _os

    from oraaud_kafka_spark import registry
    from oraaud_kafka_spark.streaming.analytics import (
        funnel_monitor,
        funnel_stage_counts,
    )

    registry.load_all()
    # user 1 completes all 4 stages; user 2 stalls at view; user 3's
    # view precedes signup (never advances); user 4 purchase-only
    raw = [
        (1, "signup", 0), (1, "view", 1), (1, "click", 2), (1, "purchase", 3),
        (2, "signup", 0), (2, "view", 5),
        (3, "view", 0), (3, "signup", 1), (3, "click", 2),
        (4, "purchase", 0),
        (2, "error", 6),
    ]
    rows = [
        {
            "event_type": et,
            "ts": f"2026-01-01T00:{m:02d}:00",
            "event_id": i + 1,
            "user_id": u,
        }
        for i, (u, et, m) in enumerate(raw)
    ]
    rows.sort(key=lambda r: r["ts"])

    d = tmp_path / "funnel_stream"
    d.mkdir()
    _write_jsonl(d / "b1.json", rows[: len(rows) // 2])
    _write_jsonl(d / "b2.json", rows[len(rows) // 2 :])
    stream = _stream_json(spark, d, FUNNEL_SCHEMA, latestFirst="false")
    q = _run_to_memory(funnel_monitor(stream), "funnel_live", output_mode="update")
    try:
        latest = {}
        for r in spark.table("funnel_live").collect():
            cur = latest.get(r.user_id)
            if cur is None or r.stage >= cur.stage:
                latest[r.user_id] = r
    finally:
        q.stop()
    live = funnel_stage_counts(latest.values())

    # batch twin over the SAME rows
    ev = spark.createDataFrame(
        [
            (r["event_id"], r["ts"], r["user_id"], r["event_type"], 0.0, "{}")
            for r in rows
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    bdir = str(tmp_path / "funnel_batch")
    ev.coalesce(1).write.parquet(_os.path.join(bdir, "events.parquet"))
    batch = registry.QUERIES["q_events_funnel_single_pass"].__wrapped__(
        spark, bdir
    ).collect()[0]
    assert live == {
        "n_signup": batch.n_signup,
        "n_view": batch.n_view,
        "n_click": batch.n_click,
        "n_purchase": batch.n_purchase,
    }
    # spot semantics: user 3's pre-signup view never advances
    assert latest[3].stage == 1
    assert latest[1].stage == 4 and latest[4].stage == 0


def test_quantile_monitor_slicing_invariant_vs_python_reference(spark, tmp_path):
    """The live p50/p95/p99 must equal the nearest-rank percentiles of
    the full value multiset — under ANY micro-batch slicing — because
    the histogram state is a pure function of the rows seen, not of
    arrival order. Values include an exact .5-cent boundary (0.125)
    pinning the half-up cent collapse, and a NULL value that must be
    dropped like the batch rank kit drops them."""
    from oraaud_kafka_spark.streaming.analytics import (
        QUANTILE_MONITOR_PS,
        quantile_cents,
        quantile_monitor,
    )

    values = [10.0, 2.0, 30.0, 0.125, 7.25, 7.25, 19.99, 3.5, 12.0, 45.0, 1.0, 8.0]
    rows = [
        {
            "event_type": "click",
            "ts": f"2026-01-01T00:{i:02d}:00",
            "event_id": i + 1,
            "value": v,
        }
        for i, v in enumerate(values)
    ] + [
        {"event_type": "click", "ts": "2026-01-01T00:59:00", "event_id": 99, "value": None}
    ]

    def reference():
        cents = sorted(quantile_cents(v) for v in values)
        n = len(cents)
        out = {}
        for lbl, num, den in QUANTILE_MONITOR_PS:
            k = (num * n + den - 1) // den
            out[f"p{lbl}_dollars"] = cents[k - 1] / 100
        return n, out

    n_ref, q_ref = reference()
    finals = []
    for slices, name in ((1, "qm_one"), (4, "qm_four")):
        d = tmp_path / name
        d.mkdir()
        step = len(rows) // slices
        for s in range(slices):
            chunk = rows[s * step : (s + 1) * step if s < slices - 1 else len(rows)]
            _write_jsonl(d / f"b{s}.json", chunk)
        stream = _stream_json(spark, d, CUSUM_SCHEMA, latestFirst="false")
        q = _run_to_memory(quantile_monitor(stream), name, output_mode="update")
        try:
            latest = None
            for r in spark.table(name).collect():
                if latest is None or r.n_events >= latest.n_events:
                    latest = r
        finally:
            q.stop()
        assert latest is not None
        finals.append(latest)

    for got in finals:
        assert got.n_events == n_ref
        assert got.n_distinct == len({quantile_cents(v) for v in values})
        for lbl, _, _ in QUANTILE_MONITOR_PS:
            assert getattr(got, f"p{lbl}_dollars") == q_ref[f"p{lbl}_dollars"]
    a, b = finals
    assert (a.p50_dollars, a.p95_dollars, a.p99_dollars) == (
        b.p50_dollars,
        b.p95_dollars,
        b.p99_dollars,
    )


def test_quantile_monitor_array_state_survives_checkpoint_restart(spark, tmp_path):
    """Durability for the one monitor with ARRAY-typed keyed state: stop
    after the first batch, restart from the checkpoint with new data,
    and the recovered histogram arrays must continue the fold — the
    final percentiles must equal the pure-Python nearest-rank reference
    over ALL rows (slicing-invariance equates that to any single run)."""
    from oraaud_kafka_spark.streaming.analytics import (
        QUANTILE_MONITOR_PS,
        quantile_cents,
        quantile_monitor,
    )

    values = [4.0, 17.5, 0.125, 9.99, 23.0, 1.25, 8.0, 8.0, 31.0, 2.0]
    rows = [
        {
            "event_type": "click",
            "ts": f"2026-01-01T00:{i:02d}:00",
            "event_id": i + 1,
            "value": v,
        }
        for i, v in enumerate(values)
    ]
    d = tmp_path / "qm_ckpt"
    d.mkdir()
    ckpt = str(tmp_path / "qm_ckpt_state")
    _write_jsonl(d / "b1.json", rows[:6])

    emitted: list = []

    def run_once():
        def collect(batch_df, batch_id):
            emitted.extend(batch_df.collect())

        stream = _stream_json(spark, d, CUSUM_SCHEMA, latestFirst="false")
        q = (
            quantile_monitor(stream)
            .writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    n_first = len(emitted)
    assert n_first and emitted[-1].n_events == 6
    _write_jsonl(d / "b2.json", rows[6:])
    run_once()
    final = [r for r in emitted[n_first:] if r.n_events == len(rows)]
    assert len(final) == 1
    got = final[0]
    cents = sorted(quantile_cents(v) for v in values)
    n = len(cents)
    for lbl, num, den in QUANTILE_MONITOR_PS:
        k = (num * n + den - 1) // den
        assert getattr(got, f"p{lbl}_dollars") == cents[k - 1] / 100
    assert got.n_distinct == len(set(cents))


def test_burst_monitor_trailing_baseline_across_batches(spark, tmp_path):
    """The burst monitor's hour-bucket state must carry across
    micro-batches: 24 quiet hours (1 event each) split over two
    batches, then a 3-event hour in a third file, must emit a full
    24-bucket baseline with ratio 3.0 and the integer >=2x flag set —
    and before the baseline fills, ratio/is_burst stay NULL."""
    from oraaud_kafka_spark.streaming.analytics import burst_monitor

    d = tmp_path / "burst"
    d.mkdir()
    rows = [
        {
            "event_type": "click",
            "ts": f"2026-01-01T{h:02d}:30:00",
            "event_id": h + 1,
            "value": 1.0,
        }
        for h in range(24)
    ]
    _write_jsonl(d / "b1.json", rows[:10])
    _write_jsonl(d / "b2.json", rows[10:])
    _write_jsonl(
        d / "b3.json",
        [
            {
                "event_type": "click",
                "ts": "2026-01-02T00:10:00",
                "event_id": 100 + i,
                "value": 1.0,
            }
            for i in range(3)
        ],
    )
    # the file source orders batches by modification time; same-second
    # writes would tie and could deliver b3 first, which the monitor's
    # lateness floor would then (correctly) treat as making b1/b2
    # stragglers — pin strictly increasing mtimes so the stream is the
    # time-ordered slicing the contract covers
    import os as _os

    for i, f in enumerate(("b1.json", "b2.json", "b3.json")):
        _os.utime(d / f, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = _stream_json(spark, d, CUSUM_SCHEMA, latestFirst="false")
    q = _run_to_memory(burst_monitor(stream), "burst", output_mode="update")
    try:
        out = spark.table("burst").collect()
        assert out, "no burst rows emitted"
        latest = max(out, key=lambda r: r.bar_hour_epoch)
        assert latest.n_events == 3
        assert latest.base_hours == 24
        assert latest.base_sum == 24
        assert latest.ratio == 3.0
        assert latest.is_burst == 1
        # rows emitted before the baseline filled must be NULL-banded
        partial = [r for r in out if r.base_hours < 24]
        for r in partial:
            assert r.ratio is None and r.is_burst is None
    finally:
        q.stop()


def test_burst_monitor_state_is_horizon_bounded(spark, tmp_path):
    """After 30 distinct hours the retained histogram must hold only
    the newest 25 buckets (BURST_MONITOR_KEEP): the emitted baseline
    keeps exactly 24 buckets and old hours stop contributing."""
    from oraaud_kafka_spark.streaming.analytics import (
        BURST_MONITOR_KEEP,
        burst_monitor,
    )

    d = tmp_path / "bursthz"
    d.mkdir()
    # hours 0..29, hour h carries h+1 events so sums are distinguishable
    rows = []
    eid = 0
    for h in range(30):
        for _ in range(h + 1):
            eid += 1
            rows.append(
                {
                    "event_type": "click",
                    "ts": f"2026-01-{1 + h // 24:02d}T{h % 24:02d}:00:00",
                    "event_id": eid,
                    "value": 1.0,
                }
            )
    _write_jsonl(d / "all.json", rows)
    stream = _stream_json(spark, d, CUSUM_SCHEMA, latestFirst="false")
    q = _run_to_memory(burst_monitor(stream), "bursthz", output_mode="update")
    try:
        latest = max(
            spark.table("bursthz").collect(), key=lambda r: r.bar_hour_epoch
        )
        assert latest.n_events == 30
        assert latest.base_hours == BURST_MONITOR_KEEP - 1 == 24
        # baseline = hours 5..28 -> sum of (6..29) = sum(1..29) - sum(1..5)
        assert latest.base_sum == sum(range(6, 30))
    finally:
        q.stop()


def test_drawdown_monitor_matches_python_fold_across_batches(spark, tmp_path):
    """Running peak / max drawdown must fold across micro-batches in
    (ts, event_id) order exactly like the sequential reference; NULL
    value rows are dropped."""
    from oraaud_kafka_spark.streaming.analytics import (
        drawdown_cents,
        drawdown_monitor,
    )

    d = tmp_path / "dd"
    d.mkdir()
    b1 = [
        {"event_type": "click", "ts": "2026-01-01T00:00:00", "event_id": 1, "value": 10.0},
        {"event_type": "click", "ts": "2026-01-01T00:01:00", "event_id": 2, "value": 4.0},
        {"event_type": "click", "ts": "2026-01-01T00:02:00", "event_id": 3, "value": 12.5},
    ]
    b2 = [
        {"event_type": "click", "ts": "2026-01-01T00:03:00", "event_id": 4, "value": None},
        {"event_type": "click", "ts": "2026-01-01T00:04:00", "event_id": 5, "value": 2.005},
        {"event_type": "click", "ts": "2026-01-01T00:05:00", "event_id": 6, "value": 11.0},
    ]
    _write_jsonl(d / "b1.json", b1)
    _write_jsonl(d / "b2.json", b2)
    stream = _stream_json(spark, d, CUSUM_SCHEMA, latestFirst="false")
    q = _run_to_memory(drawdown_monitor(stream), "dd", output_mode="update")
    try:
        latest = max(spark.table("dd").collect(), key=lambda r: r.n_events)
        peak, dd, n = None, 0, 0
        for v in (10.0, 4.0, 12.5, 2.005, 11.0):
            c = drawdown_cents(v)
            peak = c if peak is None else max(peak, c)
            dd = max(dd, peak - c)
            n += 1
        assert drawdown_cents(2.005) == 201  # half-away, not banker's 200
        assert latest.n_events == n
        assert latest.peak_dollars == peak / 100
        assert latest.max_drawdown_dollars == dd / 100
    finally:
        q.stop()


def test_burst_monitor_array_state_survives_checkpoint_restart(spark, tmp_path):
    """Durability for the burst monitor's ARRAY-typed hour-bucket
    state: stop after the first batch (12 quiet hours), restart from
    the checkpoint with the remaining 12 quiet hours + a 4-event hour,
    and the recovered histogram must complete the 24-bucket baseline
    and flag the burst exactly as an uninterrupted run would."""
    from oraaud_kafka_spark.streaming.analytics import burst_monitor

    quiet = [
        {
            "event_type": "click",
            "ts": f"2026-01-01T{h:02d}:15:00",
            "event_id": h + 1,
            "value": 1.0,
        }
        for h in range(24)
    ]
    spike = [
        {
            "event_type": "click",
            "ts": "2026-01-02T00:05:00",
            "event_id": 200 + i,
            "value": 1.0,
        }
        for i in range(4)
    ]
    d = tmp_path / "bm_ckpt"
    d.mkdir()
    ckpt = str(tmp_path / "bm_ckpt_state")
    _write_jsonl(d / "b1.json", quiet[:12])

    emitted: list = []

    def run_once():
        def collect(batch_df, batch_id):
            emitted.extend(batch_df.collect())

        stream = _stream_json(spark, d, CUSUM_SCHEMA, latestFirst="false")
        q = (
            burst_monitor(stream)
            .writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    n_first = len(emitted)
    assert n_first
    assert emitted[-1].base_hours == 11  # 12 buckets: newest + 11 base
    assert emitted[-1].ratio is None
    # b1 is already committed in the checkpoint, so batch order across
    # the restart is fixed without touching mtimes (and back-dating
    # them would trip the file source's maxFileAge pruning)
    _write_jsonl(d / "b2.json", quiet[12:] + spike)
    run_once()
    latest = max(emitted[n_first:], key=lambda r: r.bar_hour_epoch)
    assert latest.n_events == 4
    assert latest.base_hours == 24
    assert latest.base_sum == 24
    assert latest.ratio == 4.0
    assert latest.is_burst == 1


def test_drawdown_monitor_state_survives_checkpoint_restart(spark, tmp_path):
    """Drawdown durability: the running peak from before the stop must
    still dominate the post-restart trough — max_dd can only be right
    if (peak, dd, n) state was recovered, since batch 2 alone has a
    smaller drawdown."""
    from oraaud_kafka_spark.streaming.analytics import (
        drawdown_cents,
        drawdown_monitor,
    )

    b1 = [
        {"event_type": "click", "ts": "2026-01-01T00:00:00", "event_id": 1, "value": 50.0},
        {"event_type": "click", "ts": "2026-01-01T00:01:00", "event_id": 2, "value": 48.0},
    ]
    b2 = [
        {"event_type": "click", "ts": "2026-01-01T00:02:00", "event_id": 3, "value": 10.0},
        {"event_type": "click", "ts": "2026-01-01T00:03:00", "event_id": 4, "value": 30.0},
    ]
    d = tmp_path / "ddm_ckpt"
    d.mkdir()
    ckpt = str(tmp_path / "ddm_ckpt_state")
    _write_jsonl(d / "b1.json", b1)

    emitted: list = []

    def run_once():
        def collect(batch_df, batch_id):
            emitted.extend(batch_df.collect())

        stream = _stream_json(spark, d, CUSUM_SCHEMA, latestFirst="false")
        q = (
            drawdown_monitor(stream)
            .writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    n_first = len(emitted)
    assert n_first and emitted[-1].n_events == 2
    assert emitted[-1].max_drawdown_dollars == 2.0
    _write_jsonl(d / "b2.json", b2)
    run_once()
    latest = max(emitted[n_first:], key=lambda r: r.n_events)
    assert latest.n_events == 4
    # peak 50.00 survives the restart; trough 10.00 -> dd 40.00 (a
    # batch-2-only fold would say peak 30, dd 20 at most)
    assert latest.peak_dollars == 50.0
    assert latest.max_drawdown_dollars == 40.0
    assert drawdown_cents(50.0) - drawdown_cents(10.0) == 4000


def test_ewma_holt_drop_null_value_rows_without_nan_poison(spark, tmp_path):
    """A NULL value row must be dropped, not folded as float(nan) —
    folding it would NaN-poison the keyed level/trend forever. Both
    smoothers must report the fold over only the valued rows."""
    from oraaud_kafka_spark.streaming.analytics import (
        EWMA_ALPHA,
        HOLT_ALPHA,
        HOLT_BETA,
        ewma_levels,
        holt_levels,
    )

    rows = [
        {"user_id": 1, "ts": "2026-01-01T00:00:00", "event_id": 1, "event_type": "view", "value": 10.0},
        {"user_id": 1, "ts": "2026-01-01T00:01:00", "event_id": 2, "event_type": "view", "value": None},
        {"user_id": 1, "ts": "2026-01-01T00:02:00", "event_id": 3, "event_type": "view", "value": 20.0},
    ]
    d = tmp_path / "nanpoison"
    d.mkdir()
    _write_jsonl(d / "b1.json", rows)
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = _stream_json(spark, d, schema, latestFirst="false")
    q1 = _run_to_memory(ewma_levels(stream), "ewma_nan", output_mode="update")
    q2 = _run_to_memory(holt_levels(stream), "holt_nan", output_mode="update")
    try:
        e = max(spark.table("ewma_nan").collect(), key=lambda r: r.n_events)
        level = 0.0
        for v in (10.0, 20.0):
            level = EWMA_ALPHA * v + (1 - EWMA_ALPHA) * level
        assert e.n_events == 2
        assert e.ewma_level == level  # a NaN fold could never equal this
        h = max(spark.table("holt_nan").collect(), key=lambda r: r.n_events)
        lv = tr = 0.0
        for v in (10.0, 20.0):
            nl = HOLT_ALPHA * v + (1 - HOLT_ALPHA) * (lv + tr)
            tr = HOLT_BETA * (nl - lv) + (1 - HOLT_BETA) * tr
            lv = nl
        assert h.n_events == 2
        assert h.level == lv and h.trend == tr
    finally:
        q1.stop()
        q2.stop()


def test_funnel_monitor_drops_null_user_group(spark, tmp_path):
    """A NULL user_id row forms its own state group; the monitor must
    drain and drop it (a NULL user is not a funnel participant) rather
    than crash casting the key, while real users fold normally."""
    from oraaud_kafka_spark.streaming.analytics import funnel_monitor

    rows = [
        {"user_id": None, "ts": "2026-01-01T00:00:00", "event_id": 1, "event_type": "signup", "value": 1.0},
        {"user_id": 7, "ts": "2026-01-01T00:01:00", "event_id": 2, "event_type": "signup", "value": 1.0},
        {"user_id": 7, "ts": "2026-01-01T00:02:00", "event_id": 3, "event_type": "view", "value": 1.0},
    ]
    d = tmp_path / "nulluser"
    d.mkdir()
    _write_jsonl(d / "b1.json", rows)
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = _stream_json(spark, d, schema, latestFirst="false")
    q = _run_to_memory(funnel_monitor(stream), "fnull", output_mode="update")
    try:
        out = spark.table("fnull").collect()
        assert [r.user_id for r in out] == [7]
        assert out[0].stage == 2
    finally:
        q.stop()


def test_interval_latency_monitor_matches_batch_twin(spark, tmp_path):
    """The stream-stream interval join + tumbling rollup (two chained
    stateful operators) must emit, in append mode, exactly the
    registered batch query q_time_interval_latency's rows once far-
    future sentinels advance both sides' watermarks past the fixture.
    Clicks and purchases arrive as separate time-ordered multi-batch
    streams, so join state genuinely carries across micro-batches."""
    import pandas as pd

    from oraaud_kafka_spark import registry
    from oraaud_kafka_spark.streaming.analytics import (
        interval_latency_monitor,
    )
    from oraaud_kafka_spark.tables import load
    from tests.conftest import SF_DIR

    registry.load_all()
    e = (
        load(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_type")
        .toPandas()
    )

    import os
    import time

    def write_side(name, etype, sentinel_us):
        d = tmp_path / name
        d.mkdir()
        rows = e[e["event_type"] == etype].sort_values("ts")
        recs = [
            {"user_id": int(u), "ts_us": int(t.value) // 1000}
            for u, t in zip(rows["user_id"], rows["ts"])
        ]
        third = max(1, len(recs) // 3)
        base = time.time()
        for i in range(3):
            chunk = recs[i * third :] if i == 2 else recs[i * third : (i + 1) * third]
            p = d / f"b{i}.json"
            _write_jsonl(p, chunk)
            # file-source batch order is MTIME order; files written in
            # the same instant land in ONE batch (all-at-once degrades
            # the test to a single big batch), so pin increasing mtimes
            os.utime(p, (base + i * 10, base + i * 10))
        # sentinel: far-future row for a user the fixture never uses —
        # advances this side's watermark so every real window closes
        p = d / "zz_sentinel.json"
        _write_jsonl(p, [{"user_id": -1, "ts_us": sentinel_us}])
        os.utime(p, (base + 40, base + 40))
        schema = StructType(
            [StructField("user_id", LongType()), StructField("ts_us", LongType())]
        )
        return _stream_json(spark, d, schema).select(
            "user_id", F.timestamp_micros("ts_us").alias("ts")
        )

    future_us = int(pd.Timestamp("2030-01-01").value) // 1000
    clicks = write_side("clicks", "click", future_us)
    # purchase sentinel 6 months later: never within 30 min of any click
    purchases = write_side("purchases", "purchase", future_us + 86400_000_000 * 180)
    q = _run_to_memory(
        interval_latency_monitor(clicks, purchases), "ilat", output_mode="append"
    )
    try:
        got = (
            spark.table("ilat")
            .toPandas()
            .sort_values("click_hour")
            .reset_index(drop=True)
        )
        want = (
            registry.QUERIES["q_time_interval_latency"](spark, SF_DIR)
            .toPandas()
            .sort_values("click_hour")
            .reset_index(drop=True)
        )
        assert len(want) > 0
        assert got.equals(want), f"\ngot:\n{got}\nwant:\n{want}"
    finally:
        q.stop()


def test_interval_latency_monitor_drops_late_purchase(spark, tmp_path):
    """The join-state GC contract at stream scale: once both watermarks
    have advanced past a row's join window, a late-arriving purchase is
    DROPPED (its click's buffered state is gone) — the bounded-state
    trade the monitor's delay knob makes, and the reason its state
    cannot grow with the stream. Batch 1 on each side advances the
    watermark far beyond the click; batch 2 delivers a purchase that
    would have matched — no pair may appear."""
    import os
    import time

    import pandas as pd

    from oraaud_kafka_spark.streaming.analytics import (
        interval_latency_monitor,
    )

    def write_batches(name, batches):
        d = tmp_path / name
        d.mkdir()
        for i, rows in enumerate(batches):
            p = d / f"b{i}.json"
            _write_jsonl(p, rows)
            # file-source batch order follows modification time; pin it
            ts = time.time() + i * 10
            os.utime(p, (ts, ts))
        schema = StructType(
            [
                StructField("user_id", LongType()),
                StructField("ts_us", LongType()),
            ]
        )
        return _stream_json(spark, d, schema).select(
            "user_id", F.timestamp_micros("ts_us").alias("ts")
        )

    def us(s):
        return int(pd.Timestamp(s).value) // 1000

    clicks = write_batches(
        "lateclicks",
        [
            [{"user_id": 1, "ts_us": us("2024-05-04 10:00:00")},
             # watermark sentinel: far future, unmatched user
             {"user_id": -1, "ts_us": us("2024-05-04 20:00:00")}],
            [{"user_id": -1, "ts_us": us("2024-05-04 21:00:00")}],
            [{"user_id": -1, "ts_us": us("2024-05-04 22:00:00")}],
        ],
    )
    purchases = write_batches(
        "latepurch",
        [
            [{"user_id": -2, "ts_us": us("2024-05-04 20:00:00")}],
            [{"user_id": -2, "ts_us": us("2024-05-04 21:00:00")}],
            # would match the 10:00 click (within 30 min) but arrives
            # two full batches after both watermarks (delay 1h) passed
            # 19:00 — the click's join state is evicted by now
            # (watermark advance and state eviction apply with a
            # one-batch lag, so the drop needs the extra batch)
            [{"user_id": 1, "ts_us": us("2024-05-04 10:05:00")},
             {"user_id": -2, "ts_us": us("2024-05-04 22:00:00")}],
        ],
    )
    q = _run_to_memory(
        interval_latency_monitor(clicks, purchases, delay="1 hour"),
        "ilat_late",
        output_mode="append",
    )
    try:
        assert spark.table("ilat_late").count() == 0
    finally:
        q.stop()


def test_conversion_rate_monitor_matches_batch_twin(spark, tmp_path):
    """The left-outer interval join + watermark dedup + tumbling rollup
    (THREE chained stateful operators) must emit, in append mode,
    exactly the batch query q_time_conversion_rate's rows once
    sentinels advance both watermarks past the fixture — including the
    never-converted clicks the inner-join latency monitor cannot see."""
    import pandas as pd

    from oraaud_kafka_spark.queries.event_time import q_time_conversion_rate
    from oraaud_kafka_spark.streaming.analytics import (
        conversion_rate_monitor,
    )
    from oraaud_kafka_spark.tables import load
    from tests.conftest import SF_DIR

    e = (
        load(spark, SF_DIR, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .toPandas()
    )

    import os
    import time

    def write_side(name, etype, sentinel_us):
        d = tmp_path / name
        d.mkdir()
        rows = e[e["event_type"] == etype].sort_values("ts")
        recs = [
            {"event_id": int(i), "user_id": int(u), "ts_us": int(t.value) // 1000}
            for i, u, t in zip(rows["event_id"], rows["user_id"], rows["ts"])
        ]
        third = max(1, len(recs) // 3)
        base = time.time()
        for i in range(3):
            chunk = recs[i * third :] if i == 2 else recs[i * third : (i + 1) * third]
            p = d / f"b{i}.json"
            _write_jsonl(p, chunk)
            # pin increasing mtimes: same-instant files collapse into
            # ONE batch (file-source order is mtime-based) and the
            # sentinel could even land FIRST, making everything late
            os.utime(p, (base + i * 10, base + i * 10))
        p = d / "zz_sentinel.json"
        _write_jsonl(
            p, [{"event_id": -9, "user_id": -1, "ts_us": sentinel_us}]
        )
        os.utime(p, (base + 40, base + 40))
        schema = StructType(
            [
                StructField("event_id", LongType()),
                StructField("user_id", LongType()),
                StructField("ts_us", LongType()),
            ]
        )
        return _stream_json(spark, d, schema).select(
            "event_id", "user_id", F.timestamp_micros("ts_us").alias("ts")
        )

    future_us = int(pd.Timestamp("2030-01-01").value) // 1000
    clicks = write_side("cvr_clicks", "click", future_us)
    purchases = write_side(
        "cvr_purch", "purchase", future_us + 86400_000_000 * 180
    )
    q = _run_to_memory(
        conversion_rate_monitor(clicks, purchases), "cvr_live",
        output_mode="append",
    )
    try:
        got = spark.table("cvr_live").toPandas()
        # the click sentinel forms its own (unconverted) far-future
        # window; every fixture window must match the batch twin
        got = (
            got[got["click_hour"] < pd.Timestamp("2029-01-01")]
            .sort_values("click_hour")
            .reset_index(drop=True)
        )
        want = (
            q_time_conversion_rate(spark, SF_DIR)
            .toPandas()
            .sort_values("click_hour")
            .reset_index(drop=True)
        )
        assert len(want) > 0
        assert got.equals(want), f"\ngot:\n{got}\nwant:\n{want}"
    finally:
        q.stop()


def test_dynamic_session_monitor_matches_batch_twin(spark, tmp_path):
    """The dynamic-gap session monitor must emit, in append mode,
    exactly the batch query q_time_session_dynamic_gap's rows
    once a far-future sentinel advances the watermark past every
    fixture session — under genuinely incremental multi-batch input."""
    import os
    import time

    import pandas as pd

    from oraaud_kafka_spark.queries.event_time import q_time_session_dynamic_gap
    from oraaud_kafka_spark.streaming.analytics import dynamic_session_monitor
    from oraaud_kafka_spark.tables import load
    from tests.conftest import SF_DIR

    e = (
        load(spark, SF_DIR, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("event_id", "user_id", "ts", "event_type")
        .toPandas()
        .sort_values("ts")
    )
    d = tmp_path / "dyn_sessions"
    d.mkdir()
    recs = [
        {
            "event_id": int(i),
            "user_id": int(u),
            "ts_us": int(t.value) // 1000,
            "event_type": str(et),
        }
        for i, u, t, et in zip(
            e["event_id"], e["user_id"], e["ts"], e["event_type"]
        )
    ]
    third = max(1, len(recs) // 3)
    base = time.time()
    for i in range(3):
        chunk = recs[i * third :] if i == 2 else recs[i * third : (i + 1) * third]
        p = d / f"b{i}.json"
        _write_jsonl(p, chunk)
        # pin increasing mtimes (file-source order is mtime-based)
        os.utime(p, (base + i * 10, base + i * 10))
    sentinel = d / "zz_sentinel.json"
    _write_jsonl(
        sentinel,
        [
            {
                "event_id": -9,
                "user_id": -1,
                "ts_us": int(pd.Timestamp("2030-01-01").value) // 1000,
                "event_type": "view",
            }
        ],
    )
    os.utime(sentinel, (base + 40, base + 40))
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = _stream_json(spark, d, schema).select(
        "user_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "event_type",
    )
    q = _run_to_memory(
        dynamic_session_monitor(stream), "dyn_sessions_live",
        output_mode="append",
    )
    try:
        got = spark.table("dyn_sessions_live").toPandas()
        # the sentinel's own far-future session stays open (the
        # watermark never passes it) or emits under user -1; drop it
        got = (
            got[got["user_id"] >= 0]
            .sort_values(["user_id", "s_start"])
            .reset_index(drop=True)
        )
        want = (
            q_time_session_dynamic_gap(spark, SF_DIR)
            .toPandas()
            .sort_values(["user_id", "s_start"])
            .reset_index(drop=True)
        )
        assert len(want) > 0
        assert got.equals(want), (
            f"\ngot {len(got)} rows:\n{got.head()}\nwant {len(want)}:\n{want.head()}"
        )
    finally:
        q.stop()


def test_hw_monitor_matches_batch_twin(spark, tmp_path):
    """The streaming Holt-Winters monitor, fed the fixture hour-ordered
    across three batches plus one far-future sentinel per type (whose
    own bucket stays open, never folded), must land on EXACTLY the
    registered batch query q_time_holt_winters's rows — level, trend,
    season slot and forecast, byte-equal after the shared HALF_UP
    6-dp round."""
    import os
    import time

    import pandas as pd

    from oraaud_kafka_spark.queries.event_time import q_time_holt_winters
    from oraaud_kafka_spark.streaming.analytics import hw_levels
    from oraaud_kafka_spark.tables import load
    from tests.conftest import SF_DIR

    e = (
        load(spark, SF_DIR, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("ts", "event_type", "value")
        .toPandas()
        .sort_values("ts")
    )
    d = tmp_path / "hw_events"
    d.mkdir()
    recs = [
        {
            "ts_us": int(t.value) // 1000,
            "event_type": str(et),
            "value": float(v),
        }
        for t, et, v in zip(e["ts"], e["event_type"], e["value"])
    ]
    third = max(1, len(recs) // 3)
    base = time.time()
    for i in range(3):
        chunk = recs[i * third :] if i == 2 else recs[i * third : (i + 1) * third]
        p = d / f"b{i}.json"
        _write_jsonl(p, chunk)
        os.utime(p, (base + i * 10, base + i * 10))
    sentinel_us = int(pd.Timestamp("2030-01-01").value) // 1000
    p = d / "zz_sentinel.json"
    _write_jsonl(
        p,
        [
            {"ts_us": sentinel_us, "event_type": et, "value": 0.0}
            for et in sorted(e["event_type"].unique())
        ],
    )
    os.utime(p, (base + 40, base + 40))
    schema = StructType(
        [
            StructField("ts_us", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = _stream_json(spark, d, schema).select(
        F.timestamp_micros("ts_us").alias("ts"), "event_type", "value"
    )
    q = _run_to_memory(hw_levels(stream), "hw_live", output_mode="update")
    try:
        got = spark.table("hw_live").toPandas()
        # update mode re-emits per batch; the final state per type is
        # the row with the max folded-bucket count
        got = (
            got.sort_values("n_hours")
            .groupby("event_type", as_index=False)
            .last()
            .sort_values("event_type")
            .reset_index(drop=True)
        )
        want = (
            q_time_holt_winters(spark, SF_DIR)
            .toPandas()
            .sort_values("event_type")
            .reset_index(drop=True)
        )
        assert len(want) > 0
        got = got[want.columns.tolist()]
        assert got.equals(want), f"\ngot:\n{got}\nwant:\n{want}"
    finally:
        q.stop()


def test_hw_monitor_drops_late_events_to_closed_hours():
    """An event older than the open bucket belongs to an hour already
    folded into the HW state; it must be dropped (the burst_monitor
    aging rule), never folded out of order or double-counted."""
    import pandas as pd

    from oraaud_kafka_spark.streaming.analytics import _hw_fn

    from tests.conftest import FakeGroupState as _FakeState

    def batch(rows):
        return [
            pd.DataFrame(
                {
                    "ts": [pd.Timestamp(h * 3600, unit="s") for h, _ in rows],
                    "value": [float(v) for _, v in rows],
                }
            )
        ]

    state = _FakeState()
    # hours 0 and 1 arrive: hour 0 folds, hour 1 stays open
    out1 = list(_hw_fn(("click",), batch([(0, 10.0), (1, 20.0)]), state))[0]
    assert out1["n_hours"].iloc[0] == 1
    snapshot = state.get
    # a late event for the already-folded hour 0 must change nothing
    out2 = list(_hw_fn(("click",), batch([(0, 99.0)]), state))[0]
    assert out2["n_hours"].iloc[0] == 1
    assert state.get == snapshot
    # a later hour closes the open bucket: now 2 folded
    out3 = list(_hw_fn(("click",), batch([(2, 5.0)]), state))[0]
    assert out3["n_hours"].iloc[0] == 2


def test_hw_monitor_folds_midgap_hours_in_order():
    """An hour BETWEEN the last folded hour and the open bucket is not
    late — it was never folded past — so it must fold, in hour order,
    before the open bucket does; the resulting state must equal the
    everything-in-one-batch fold."""
    import pandas as pd

    from oraaud_kafka_spark.streaming.analytics import _hw_fn

    from tests.conftest import FakeGroupState as _FakeState

    def batch(rows):
        return [
            pd.DataFrame(
                {
                    "ts": [pd.Timestamp(h * 3600, unit="s") for h, _ in rows],
                    "value": [float(v) for _, v in rows],
                }
            )
        ]

    # hours 0 and 2 first (0 folds, 2 opens), THEN hour 1 arrives
    split = _FakeState()
    list(_hw_fn(("click",), batch([(0, 10.0), (2, 30.0)]), split))
    out = list(_hw_fn(("click",), batch([(1, 20.0)]), split))[0]
    assert out["n_hours"].iloc[0] == 2  # hours 0 AND 1 folded, 2 open
    # reference: all three hours in one batch
    whole = _FakeState()
    list(_hw_fn(("click",), batch([(0, 10.0), (1, 20.0), (2, 30.0)]), whole))
    assert split.get == whole.get


def test_hw_monitor_folds_pre_epoch_hours():
    """Pre-1970 events carry NEGATIVE hour_us; with the nullable
    no-state sentinel they must fold on first contact exactly like the
    batch twin (the old in-band -1 silently dropped them as 'late'),
    and the hour-of-day slot must floor the negative hour the way
    F.hour does (23:00 on 1969-12-31 -> slot 23)."""
    import pandas as pd

    from oraaud_kafka_spark.streaming.analytics import _hw_fn

    from tests.conftest import FakeGroupState as _FakeState

    def batch(rows):
        return [
            pd.DataFrame(
                {
                    "ts": [pd.Timestamp(h * 3600, unit="s") for h, _ in rows],
                    "value": [float(v) for _, v in rows],
                }
            )
        ]

    # hour -1 = 1969-12-31 23:00 UTC; hour 0 opens, -1 folds
    split = _FakeState()
    out = list(_hw_fn(("click",), batch([(-1, 10.0), (0, 20.0)]), split))[0]
    assert out["n_hours"].iloc[0] == 1  # the pre-epoch hour FOLDED
    # season slot written must be hod 23 (floor division, not trunc)
    _, _, season, _, last_folded, open_hour, _ = split.get
    assert last_folded == -3_600_000_000
    assert open_hour == 0
    assert season[23] != 0.0 and all(
        season[k] == 0.0 for k in range(23)
    )
    # incremental arrival must equal the one-batch fold (batch parity)
    whole = _FakeState()
    list(_hw_fn(("click",), batch([(-1, 10.0), (0, 20.0)]), whole))
    split2 = _FakeState()
    list(_hw_fn(("click",), batch([(-1, 10.0)]), split2))
    list(_hw_fn(("click",), batch([(0, 20.0)]), split2))
    assert split2.get == whole.get


def test_hw_monitor_state_survives_checkpoint_restart(spark, tmp_path):
    """Durability for the Holt-Winters monitor's array-typed seasonal
    state: stop after the first batch, restart from the checkpoint with
    later hours, and the recovered (level, trend, season[24]) must
    continue the fold — the final row must equal the one-shot fold over
    ALL rows."""
    import pandas as pd

    from oraaud_kafka_spark.streaming.analytics import _hw_fn, hw_levels

    hours_values = [(0, 10.0), (1, 20.0), (2, 15.0), (3, 8.0), (4, 30.0), (5, 12.0)]
    rows = [
        {
            "event_type": "click",
            "ts": f"2026-01-01T{h:02d}:00:00",
            "event_id": i + 1,
            "value": v,
        }
        for i, (h, v) in enumerate(hours_values)
    ]
    d = tmp_path / "hw_ckpt"
    d.mkdir()
    ckpt = str(tmp_path / "hw_ckpt_state")
    _write_jsonl(d / "b1.json", rows[:4])

    emitted: list = []

    def run_once():
        def collect(batch_df, batch_id):
            emitted.extend(batch_df.collect())

        stream = _stream_json(spark, d, CUSUM_SCHEMA, latestFirst="false")
        q = (
            hw_levels(stream)
            .writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    assert emitted and emitted[-1].n_hours == 3  # hours 0-2 folded, 3 open
    n_first = len(emitted)
    _write_jsonl(d / "b2.json", rows[4:])
    run_once()
    final = [r for r in emitted[n_first:] if r.n_hours == 5]
    assert len(final) == 1

    from tests.conftest import FakeGroupState as _FakeState

    whole = list(
        _hw_fn(
            ("click",),
            [
                pd.DataFrame(
                    {
                        "ts": [
                            pd.Timestamp(f"2026-01-01T{h:02d}:00:00")
                            for h, _ in hours_values
                        ],
                        "value": [v for _, v in hours_values],
                    }
                )
            ],
            _FakeState(),
        )
    )[0].iloc[0]
    got = final[0]
    for col in ("n_hours", "level", "trend", "season_next", "forecast_next"):
        assert getattr(got, col) == whole[col], (col, getattr(got, col), whole[col])


def test_dynamic_session_monitor_state_survives_checkpoint_restart(
    spark, tmp_path
):
    """Session-window state recovery: a session OPEN at shutdown (its
    gap not yet expired against the watermark) must close correctly
    after a restart extends it — the emitted sessions across both runs
    must equal the batch rollup over all non-sentinel rows."""
    import pandas as pd

    from oraaud_kafka_spark.operators.sessions import session_rollup
    from oraaud_kafka_spark.streaming.analytics import dynamic_session_monitor

    base = pd.Timestamp("2026-01-01T00:00:00")

    def us(minutes):
        return int((base + pd.Timedelta(minutes=minutes)).value) // 1000

    # user 1: two events 5 min apart (one session, extended after the
    # restart by an event 20 min later — inside the 30-min click gap);
    # user 2: a view session that the restart's sentinel closes
    b1 = [
        {"event_id": 1, "user_id": 1, "ts_us": us(0), "event_type": "click"},
        {"event_id": 2, "user_id": 1, "ts_us": us(5), "event_type": "click"},
        {"event_id": 3, "user_id": 2, "ts_us": us(0), "event_type": "view"},
    ]
    b2 = [
        {"event_id": 4, "user_id": 1, "ts_us": us(25), "event_type": "view"},
        {"event_id": -9, "user_id": -1, "ts_us": us(60 * 24 * 400), "event_type": "view"},
    ]
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    d = tmp_path / "dyn_ckpt"
    d.mkdir()
    ckpt = str(tmp_path / "dyn_ckpt_state")
    _write_jsonl(d / "b1.json", b1)

    emitted: list = []

    def run_once():
        def collect(batch_df, batch_id):
            emitted.extend(batch_df.collect())

        stream = (
            _stream_json(spark, d, schema, latestFirst="false")
            .select(
                "user_id",
                F.timestamp_micros("ts_us").alias("ts"),
                "event_type",
            )
        )
        q = (
            dynamic_session_monitor(stream)
            .writeStream.foreachBatch(collect)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    # nothing can close yet: the watermark has not passed any session end
    _write_jsonl(d / "b2.json", b2)
    run_once()
    got = sorted(
        ((r.user_id, r.s_start, r.s_end, r.n) for r in emitted if r.user_id >= 0)
    )
    all_rows = [r for r in (b1 + b2) if r["user_id"] >= 0]
    want_df = session_rollup(
        spark.createDataFrame(
            [
                (
                    r["user_id"],
                    pd.Timestamp(r["ts_us"] * 1000).to_pydatetime(),
                    r["event_type"],
                )
                for r in all_rows
            ],
            ["user_id", "ts", "event_type"],
        )
    )
    want = sorted(
        ((r.user_id, r.s_start, r.s_end, r.n) for r in want_df.collect())
    )
    assert got == want, f"\ngot:  {got}\nwant: {want}"
    # the extension landed in ONE session: user 1 has a single row
    assert sum(1 for u, *_ in got if u == 1) == 1


def test_hw_monitor_fold_is_slicing_invariant():
    """Property: for ANY in-hour-order arrival (each batch's hours at
    or after the previously open hour), splitting the stream at ANY
    point yields exactly the one-shot fold state — the cross-batch
    determinism contract the other monitors pin, generalized beyond
    the hand-picked midgap case."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from oraaud_kafka_spark.streaming.analytics import _hw_fn

    from tests.conftest import FakeGroupState

    def batch(rows):
        return [
            pd.DataFrame(
                {
                    "ts": [pd.Timestamp(h * 3600, unit="s") for h, _ in rows],
                    "value": [float(v) for _, v in rows],
                }
            )
        ]

    @settings(max_examples=40, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=60),
                st.floats(
                    min_value=-100, max_value=100,
                    allow_nan=False, allow_infinity=False,
                ),
            ),
            min_size=1,
            max_size=30,
        ),
        data=st.data(),
    )
    def check(rows, data):
        # in-order arrival: sort by hour so no batch delivers an hour
        # older than one already folded past
        rows = sorted(rows, key=lambda r: r[0])
        cut = data.draw(st.integers(min_value=0, max_value=len(rows)))
        whole = FakeGroupState()
        list(_hw_fn(("t",), batch(rows), whole))
        split = FakeGroupState()
        if rows[:cut]:
            list(_hw_fn(("t",), batch(rows[:cut]), split))
        if rows[cut:]:
            list(_hw_fn(("t",), batch(rows[cut:]), split))
        assert split.get == whole.get

    check()


def test_cms_maintainer_equals_oneshot_sketch(spark, tmp_path):
    """Cell-wise-additive merge is exact: the maintained CMS grid after
    three batches (with an at-least-once replay in the middle) must be
    byte-equal to the one-shot grid over all rows — the live leg of the
    batch q_agg_cms_heavy_hitters merge certificate."""
    import os

    from oraaud_kafka_spark.queries.aggregates import _CMS_D, _cms_bucket
    from oraaud_kafka_spark.streaming.analytics import (
        cms_sketch_maintainer,
        current_cms_dir,
    )
    from oraaud_kafka_spark.tables import load
    from tests.conftest import SF_DIR

    o = load(spark, SF_DIR, "orders").select("o_custkey")
    parts = [o.filter(F.col("o_custkey") % 3 == i) for i in range(3)]
    base = str(tmp_path / "cms")
    apply_batch = cms_sketch_maintainer(base)
    apply_batch(parts[0], 0)
    apply_batch(parts[1], 1)
    apply_batch(parts[1], 1)  # at-least-once replay must no-op
    apply_batch(parts[2], 2)
    got = (
        spark.read.parquet(current_cms_dir(base))
        .orderBy("depth", "bucket")
        .toPandas()
    )
    want = (
        o.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("depth"),
                        _cms_bucket(i, F.col("o_custkey")).alias("bucket"),
                    )
                    for i in range(_CMS_D)
                ])
            ).alias("db")
        )
        .groupBy("db.depth", "db.bucket")
        .agg(F.count("*").cast("long").alias("c"))
        .orderBy("depth", "bucket")
        .toPandas()
    )
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))
    # the committed version plus the immediately superseded one remain
    # (in-flight readers of the previous marker get one commit cycle);
    # anything older is pruned
    dirs = sorted(p for p in os.listdir(base) if p.startswith("cms_batch="))
    assert dirs == ["cms_batch=1", "cms_batch=2"]
