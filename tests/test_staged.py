"""Staged pipeline == fused pipeline, and per-stage operator contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpp_paddle_ocr_spark.fixtures import GOLDEN_OVERSIZE_MAX
from cpp_paddle_ocr_spark.operators.extract import extract
from cpp_paddle_ocr_spark.operators.staged import (
    classify_candidates,
    detect_candidates,
    extract_staged,
    recognize_candidates,
)
from cpp_paddle_ocr_spark.sources.documents import generate_documents

N = 80


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, N, oversize_max=GOLDEN_OVERSIZE_MAX).cache()


def test_staged_equals_fused(spark, docs):
    fused = {
        r.url: (r.success, r.error, r.n_blocks, r.extracted_text,
                [(s.text, s.start, s.end, s.block_id) for s in r.spans])
        for r in extract(docs).collect()
    }
    staged = {
        r.url: (r.success, r.error, r.n_blocks, r.extracted_text,
                [(s.text, s.start, s.end, s.block_id) for s in r.spans])
        for r in extract_staged(docs).collect()
    }
    assert staged == fused


def test_detect_candidates_fanout(spark, docs):
    cands = detect_candidates(docs)
    assert cands.columns == ["url", "block_id", "start", "end", "text", "det_score"]
    n_pages = cands.select("url").distinct().count()
    n_spans = cands.count()
    assert n_spans > n_pages, "fan-out must be one-to-many"
    bad = cands.filter((F.col("start") >= F.col("end")) | (F.col("det_score") < 0.4))
    assert bad.count() == 0


def test_cls_filter_is_catalyst_visible(spark, docs):
    classified = classify_candidates(detect_candidates(docs))
    survivors = classified.filter(F.col("cls_label") == 0)
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert "cls_label" in plan and "Filter" in plan


def test_recognize_adds_decoded_text(spark, docs):
    cands = detect_candidates(docs).limit(50)
    rec = recognize_candidates(classify_candidates(cands))
    rows = rec.collect()
    assert all(0.0 <= r.confidence < 1.0 for r in rows)
    # entities decoded, whitespace collapsed
    assert not any("&amp;" in r.rec_text or "  " in r.rec_text for r in rows)


def test_staged_handles_duplicate_urls_like_fused(spark):
    # regression: url-keyed assembly used to merge all same-url pages' spans
    # into every output row; the threaded page id keeps rows independent
    from cpp_paddle_ocr_spark.operators.extract import extract
    from cpp_paddle_ocr_spark.operators.staged import extract_staged

    html = b"<html><body><p>This is a plain sentence with several ordinary words inside it today.</p></body></html>"
    docs = spark.createDataFrame(
        [("https://dup.example/x", html)] * 3 + [("https://uniq.example/y", html)],
        "url string, html binary",
    )
    fused = sorted(
        (r.url, r.n_blocks, r.extracted_text) for r in extract(docs).collect()
    )
    staged = sorted(
        (r.url, r.n_blocks, r.extracted_text)
        for r in extract_staged(docs).collect()
    )
    assert len(staged) == 4
    assert staged == fused  # byte-identical per row, dups NOT merged


def test_staged_deterministic_id_survives_shuffled_input(spark):
    # regression (round-2 verdict #4): the page id used to be
    # monotonically_increasing_id(), evaluated independently by the detect
    # chain and assemble's base side — a shuffled/recomputed input could
    # assign different ids to the same row and mis-join spans to pages. The
    # deterministic xxhash64(url, html) id must survive an input whose
    # intra-partition row order is not stable.
    h1 = b"<html><body><p>This is a plain sentence with several ordinary words inside it today.</p></body></html>"
    h2 = b"<html><body><p>A different page body carries another set of common words for testing purposes.</p></body></html>"
    rows = (
        [("https://dup.example/x", h1)] * 2  # fully identical dup rows
        + [("https://dup.example/x", h2)]    # same url, different html
        + [(f"https://p{i}.example/", h1 if i % 2 else h2) for i in range(20)]
    )
    docs = (
        spark.createDataFrame(rows, "url string, html binary")
        .repartition(7)  # shuffle: destroys any stable row order
    )
    fused = sorted(
        (r.url, r.n_blocks, r.extracted_text) for r in extract(docs).collect()
    )
    staged = sorted(
        (r.url, r.n_blocks, r.extracted_text)
        for r in extract_staged(docs).collect()
    )
    assert len(staged) == len(rows)
    assert staged == fused
