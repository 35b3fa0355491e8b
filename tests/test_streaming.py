"""Streaming ingestion: incremental extraction equals the batch pipeline."""

from __future__ import annotations

import hashlib

from cpp_paddle_ocr_spark.fixtures import GOLDEN_OVERSIZE_MAX
from cpp_paddle_ocr_spark.sources.documents import generate_documents
from cpp_paddle_ocr_spark.operators.extract import extract
from cpp_paddle_ocr_spark.streaming.ingest import run_stream_job


def sha(t: str) -> str:
    return hashlib.sha256(t.encode()).hexdigest()


def test_stream_job_matches_golden(spark, tmp_path, golden_checksums):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    generate_documents(spark, 60, oversize_max=GOLDEN_OVERSIZE_MAX).write.parquet(in_dir)
    q = run_stream_job(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 60
    for r in rows:
        digest, success, n_blocks = golden_checksums[r.url]
        assert r.success == success and r.n_blocks == n_blocks
        assert sha(r.extracted_text) == digest


def test_extract_stream_executes_and_matches_golden(
    spark, tmp_path, golden_checksums
):
    # extract on a streaming frame: the plan must not only build but run —
    # a payload fed the wrong columns KeyErrors only on the first REAL
    # micro-batch, so this test executes the stream, not just its schema
    in_dir = str(tmp_path / "in2")
    generate_documents(spark, 40, oversize_max=GOLDEN_OVERSIZE_MAX).write.parquet(in_dir)
    from cpp_paddle_ocr_spark.schemas import DOCUMENTS_SCHEMA

    s = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(in_dir)
    out = extract(s)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields][:4] == [
        "url", "success", "error", "n_blocks",
    ]
    q = (
        out.writeStream.format("memory")
        .queryName("extract_stream_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from extract_stream_t").collect()
    assert len(rows) == 40
    for r in rows:
        digest, success, n_blocks = golden_checksums[r.url]
        assert r.success == success and r.n_blocks == n_blocks
        assert sha(r.extracted_text) == digest


def test_stream_sink_epoch_replay_is_idempotent(spark, tmp_path):
    # foreachBatch is at-least-once: simulate an epoch retry by deleting the
    # checkpoint and re-running the job over the same input — the epoch_id
    # partitions are dynamically overwritten, so row count must not grow
    import shutil

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in3"),
        str(tmp_path / "out3"),
        str(tmp_path / "ckpt3"),
    )
    generate_documents(spark, 30, oversize_max=GOLDEN_OVERSIZE_MAX).write.parquet(in_dir)
    run_stream_job(spark, in_dir, out_dir, ckpt).awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 30
    shutil.rmtree(ckpt)  # forget progress → full replay of every epoch
    run_stream_job(spark, in_dir, out_dir, ckpt).awaitTermination(120)
    df = spark.read.parquet(out_dir)
    assert df.count() == 30  # a blind append sink would give 60
    assert df.select("url").distinct().count() == 30


def test_stateful_dedup_stream_across_batches(spark, tmp_path):
    # applyInPandasWithState: a url re-crawled in a LATER micro-batch must
    # be recognized as a duplicate (state survives batches via checkpoint)
    from pyspark.sql import functions as F

    from cpp_paddle_ocr_spark.schemas import DOCUMENTS_SCHEMA
    from cpp_paddle_ocr_spark.streaming.stateful import dedup_stream

    in_dir = str(tmp_path / "sin")
    ckpt = str(tmp_path / "sckpt")
    base = generate_documents(spark, 20, oversize_max=GOLDEN_OVERSIZE_MAX)
    # file 1: pages 0-19; file 2: pages 10-19 again (cross-batch dups) plus
    # an in-batch duplicate of page 0
    base.coalesce(1).write.parquet(in_dir)
    dup = base.filter(F.expr("url rlike '/1[0-9]$'"))
    dup.unionByName(base.limit(1)).unionByName(base.limit(1)).coalesce(
        1
    ).write.mode("append").parquet(in_dir)

    s = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(in_dir)
    )
    q = (
        dedup_stream(s)
        .writeStream.format("memory")
        .queryName("dedup_stream_t")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select url from dedup_stream_t").collect()
    urls = [r.url for r in rows]
    assert len(urls) == 20  # one row per distinct url, dups absorbed
    assert len(set(urls)) == 20


def test_stateful_dedup_ttl_path_executes(spark, tmp_path):
    # the TTL arm (ProcessingTimeTimeout + setTimeoutDuration) must execute;
    # within one short run nothing expires, so output equals no-TTL dedup
    from cpp_paddle_ocr_spark.schemas import DOCUMENTS_SCHEMA
    from cpp_paddle_ocr_spark.streaming.stateful import dedup_stream

    in_dir = str(tmp_path / "tin")
    generate_documents(spark, 12, oversize_max=GOLDEN_OVERSIZE_MAX).write.parquet(in_dir)
    s = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(in_dir)
    q = (
        dedup_stream(s, ttl_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("dedup_ttl_t")
        .option("checkpointLocation", str(tmp_path / "tckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("select count(*) c from dedup_ttl_t").collect()[0].c == 12
