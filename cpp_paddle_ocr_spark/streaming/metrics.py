"""Streaming metrics: windowed extraction-quality aggregation (P7 as a
continuous query).

The batch engine appends per-bucket lineage rows; the streaming analog is a
watermarked tumbling-window aggregation over the crawl timestamp — late
pages (a WARC segment re-fetched out of order) are folded in until the
watermark passes, then the window result is final. This is the standard
Structured Streaming shape: event-time window + watermark, no custom state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.extract import extract
from ..schemas import DOCUMENTS_SCHEMA


def windowed_quality(
    extracted_with_ts: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window extraction quality: page/success/span counts.

    Works on both batch and streaming DataFrames with columns
    ``(warc_ts, success, n_blocks)``; on a stream, attach
    ``.writeStream.outputMode("append")`` — the watermark makes append-mode
    windows final.
    """
    df = extracted_with_ts.withWatermark("warc_ts", watermark)
    return (
        df.groupBy(F.window("warc_ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.col("success").cast("long")).alias("n_ok"),
            F.sum("n_blocks").alias("n_spans"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_pages",
            "n_ok",
            "n_spans",
        )
    )


def run_quality_stream(
    spark,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """File-source stream of documents → extract → windowed quality sink.

    Append mode: a window row is emitted once the watermark passes its end —
    late pages inside the watermark are folded in, later ones dropped.
    """
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(in_dir)
    extracted = extract(stream, passthrough=("warc_ts",))
    q = windowed_quality(extracted, window, watermark)
    return (
        q.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
