"""Spark pipeline integration: byte-identity vs golden at any parallelism.

Mirrors ConcurrentProcessing + RealImageProcessing from the reference
(``tests/test_ocr_worker.cpp:182-296``): same inputs through the distributed
path must equal the single-threaded golden outputs, at every partitioning.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from cpp_paddle_ocr_spark.fixtures import GOLDEN_OVERSIZE_MAX
from cpp_paddle_ocr_spark.operators.extract import extract, make_metrics
from cpp_paddle_ocr_spark.sources.documents import generate_documents

N = 120


def sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, N, oversize_max=GOLDEN_OVERSIZE_MAX).cache()


def test_spark_matches_golden(spark, docs, golden_checksums):
    rows = extract(docs, num_partitions=4).collect()
    assert len(rows) == N
    for r in rows:
        digest, success, n_blocks = golden_checksums[r.url]
        assert r.success == success, r.url
        assert r.n_blocks == n_blocks, r.url
        assert sha(r.extracted_text) == digest, r.url


def test_parallelism_invariance(spark, docs):
    # local[2]-vs-local[8] analog: different partition counts, identical bytes
    a = {r.url: (r.extracted_text, r.error) for r in extract(docs, num_partitions=2).collect()}
    b = {r.url: (r.extracted_text, r.error) for r in extract(docs, num_partitions=13).collect()}
    c = {r.url: (r.extracted_text, r.error) for r in extract(docs).collect()}
    assert a == b == c


def test_guard_rows_ship_no_payload(spark, docs):
    # the single-scan route projection blanks html for every guard class
    # (empty / oversized / invalid-utf8): their bytes never cross the
    # shuffle or Arrow channel, only route metadata does
    from cpp_paddle_ocr_spark.operators.extract import prepare_routed

    routed = prepare_routed(docs.select("url", "html"))
    guards = routed.filter("route != 3")
    assert guards.count() > 0
    assert guards.filter("html IS NOT NULL").count() == 0
    m = make_metrics(spark)
    rows = extract(docs, metrics=m).collect()
    assert m["n_pages"].value == N  # guard rows counted as pages (P7)
    assert m["n_ok"].value == sum(r.success for r in rows)


def test_oversized_error_row_via_sql(spark):
    big = generate_documents(spark, 220, oversize_max=16_000_000).filter(
        F.length("html") > 8 * 1024 * 1024
    )
    rows = extract(big).collect()
    assert rows, "fixture must contain a >8MiB page in the first 220"
    for r in rows:
        assert not r.success
        assert "oversized html" in r.error
        assert r.spans == [] and r.extracted_text == ""


def test_output_schema_stable(spark, docs):
    out = extract(docs)
    assert [f.name for f in out.schema.fields] == [
        "url", "success", "error", "n_blocks", "spans",
        "extracted_text", "processing_time_ms",
    ]
    span_type = out.schema["spans"].dataType.elementType
    assert [f.name for f in span_type.fields] == [
        "text", "start", "end", "confidence", "block_id",
    ]


def test_no_shuffle_without_repartition(spark, docs):
    # extract(df) with num_partitions=None must not introduce an exchange
    plan = extract(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
