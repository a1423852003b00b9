"""Structured Streaming semantics tests (SURVEY.md §5.2 item 4):
checkpointed restart (at-least-once, no file lost) and the document
pipeline run unchanged under Structured Streaming.
"""

from __future__ import annotations

from pyspark.sql import functions as F


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
