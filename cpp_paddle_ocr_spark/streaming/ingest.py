"""Structured Streaming ingestion (SURVEY.md §7.7, optional sink/source).

The reference is a request/response service — its streaming analog is
continuous crawl ingestion: new page files land in a directory (or Kafka /
Iceberg CDC in production), the cascade runs incrementally, results append.

``extract`` itself is streaming-safe (a projection plus one
``mapInPandas``), so a stream is extracted by calling it directly.
``run_stream_job`` is the file-source job: ``foreachBatch`` running the
same ``extract`` per micro-batch. ``foreachBatch`` is at-least-once, so the
sink is made idempotent: output is partitioned by ``epoch_id`` and written
with the extraction job's sink, ``iceberg.overwrite_result_partitions``
(dynamic partition overwrite on a path) — a retried epoch REPLACES its own
partition (extraction is deterministic, so the replay is byte-identical),
giving exactly-once *visible* results on top of the streaming checkpoint —
the streaming counterpart of the lineage/resume protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..iceberg import overwrite_result_partitions
from ..operators.extract import extract
from ..schemas import DOCUMENTS_SCHEMA


def run_stream_job(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source ingestion job; returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # idempotent epoch replay: overwrite THIS epoch's partition only —
        # a blind append would duplicate rows whenever foreachBatch retries
        # an epoch after a failure
        overwrite_result_partitions(
            extract(batch_df).withColumn("epoch_id", F.lit(int(epoch_id))),
            out_dir,
            "epoch_id",
        )

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
