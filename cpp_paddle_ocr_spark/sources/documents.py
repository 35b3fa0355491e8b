"""Documents source: fixture generation + table readers (SURVEY.md §2.1).

S1/S3 — the production source is a plain table scan
(``spark.read.parquet`` / Iceberg when a catalog is configured); html arrives
in-row as binary, so the reference's ``imread``/base64 decode collapses into
the UTF-8 decode inside the extraction UDF (S2).

For tests/benchmarks the fixture table is generated *distributed*: the pure
generator ``fixtures.page(i)`` is keyed on the row id alone, so
``spark.range`` + ``mapInPandas`` scales generation to any size without a
driver-side loop.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, types as T

from ..fixtures import layout_page, media_item, page
from ..iceberg import _is_table_ident
from ..schemas import DOCUMENTS_SCHEMA, MEDIA_SCHEMA


def _gen_partitions(spark: SparkSession, n: int) -> int:
    """Default partition count for the synthetic generators.

    Compute-bound fixture tasks (page synthesis now, the Python cascade
    reading the result later) should be sized by DURATION, not bytes: one
    task per core means one wave, and on a shared-tenant host one slow
    core adds its whole task to the stage wall (guide §2.6 stragglers —
    the round-6 extract passes spread 52-106 s at 32 one-wave tasks).
    Four waves bound the straggler penalty to ~¼ wave: interleaved-pair
    A/B of the 200k-doc extract over a 32-file vs 128-file fixture
    measured 0.925/0.969/0.773 (128-file faster in every pair). Small
    tables stay at one-partition-per-core — the ``n // 1000`` guard keeps
    test/fixture tables (≤ ~32k rows) at the old layout so only
    long-stage fixtures split finer.
    """
    dp = spark.sparkContext.defaultParallelism
    return min(4 * dp, max(dp, n // 1000))


def _generate(
    spark: SparkSession,
    n: int,
    row_fn: Callable[[int], dict],
    schema: T.StructType,
    num_partitions: int | None = None,
) -> DataFrame:
    """``n`` rows ``row_fn(id)`` of ``schema``, generated in parallel over
    ``spark.range`` — every fixture row is a pure function of its id."""
    columns = [f.name for f in schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([row_fn(int(i)) for i in pdf["id"]], columns=columns)

    rng = spark.range(0, n, 1, num_partitions or _gen_partitions(spark, n))
    return rng.mapInPandas(gen, schema)


def generate_documents(
    spark: SparkSession,
    n: int,
    oversize_max: int = 16_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic documents table of ``n`` rows, generated in parallel."""
    return _generate(
        spark, n, lambda i: page(i, oversize_max), DOCUMENTS_SCHEMA, num_partitions
    )


def generate_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic media table (url, media binary) — rows are pure
    functions of the row id (``fixtures.media_item``)."""
    return _generate(spark, n, media_item, MEDIA_SCHEMA)


_LAYOUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("html", T.BinaryType(), True),
    ]
)


def generate_layout_docs(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic layout-fixture table (url, html binary) for the T1-T3
    structure stage — pure function of the row id (``fixtures.layout_page``)."""
    return _generate(spark, n, layout_page, _LAYOUT_SCHEMA)


def write_documents_parquet(
    spark: SparkSession, path: str, n: int, oversize_max: int = 16_000_000
) -> None:
    generate_documents(spark, n, oversize_max).write.mode("overwrite").parquet(path)


def read_documents(spark: SparkSession, target: str) -> DataFrame:
    """S1: table scan of an Iceberg table identifier or a parquet path, told
    apart by the rule every sink uses (``iceberg._is_table_ident``)."""
    if _is_table_ident(spark, target):
        return spark.read.table(target)
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(target)


def from_base64(df: DataFrame) -> DataFrame:
    """S2: base64 transport source (``src/ocr_ipc_service.cpp:16-43``):
    pages arriving base64-encoded in ``html_b64`` (e.g. JSON sidecar feeds)
    → binary ``html``."""
    from pyspark.sql import functions as F

    return df.withColumn("html", F.unbase64("html_b64")).drop("html_b64")
