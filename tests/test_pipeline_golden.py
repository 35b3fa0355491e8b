"""Golden end-to-end: pure core vs committed golden set (FIXTURES.md).

The committed ``tests/golden/CHECKSUMS.tsv`` was produced once by
``scripts/gen_golden.py`` running the single-threaded pure core — the
reference extractor for byte-identity purposes. These tests prove the core
still reproduces it bit-for-bit (the analog of the reference's fixture-image
recognition tests, ``tests/test_ocr_worker.cpp:182-233``).
"""

from __future__ import annotations

import hashlib
import pathlib

import pytest

from cpp_paddle_ocr_spark.core.pipeline import extract_batch, extract_one
from cpp_paddle_ocr_spark.fixtures import GOLDEN_OVERSIZE_MAX, build_documents_pdf, page

GOLDEN_DIR = pathlib.Path(__file__).parent / "golden"
N_CHECK = 400  # first 400 of the 2000-row golden set (all 5 families hit)


def sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def test_pure_core_matches_golden(golden_checksums):
    pdf = build_documents_pdf(N_CHECK, oversize_max=GOLDEN_OVERSIZE_MAX)
    out = extract_batch(pdf["url"].tolist(), pdf["html"].tolist())
    assert len(out) == N_CHECK
    for _, row in out.iterrows():
        digest, success, n_blocks = golden_checksums[row["url"]]
        assert row["success"] == success, row["url"]
        assert row["n_blocks"] == n_blocks, row["url"]
        assert sha(row["extracted_text"]) == digest, row["url"]


def test_full_text_pages_match():
    for f in sorted((GOLDEN_DIR / "pages").glob("*.txt")):
        i = int(f.stem)
        p = page(i, oversize_max=GOLDEN_OVERSIZE_MAX)
        row = extract_one(p["url"], p["html"])
        assert row["extracted_text"] == f.read_text(encoding="utf-8"), f.name


def test_batch_size_does_not_change_output():
    # one batch vs many small batches -> byte-identical rows
    pdf = build_documents_pdf(60, oversize_max=GOLDEN_OVERSIZE_MAX)
    urls, htmls = pdf["url"].tolist(), pdf["html"].tolist()
    whole = extract_batch(urls, htmls)
    parts = []
    for beg in range(0, 60, 7):
        parts.append(extract_batch(urls[beg : beg + 7], htmls[beg : beg + 7]))
    import pandas as pd

    chopped = pd.concat(parts, ignore_index=True)
    for col in ["url", "success", "error", "n_blocks", "extracted_text"]:
        assert whole[col].tolist() == chopped[col].tolist(), col
    assert whole["spans"].apply(len).tolist() == chopped["spans"].apply(len).tolist()


def test_error_families():
    # empty family (i % 20 == 17): NULL / b"" / invalid utf-8
    for i, want in [(17, "undecodable"), (37, "empty html"), (57, "empty html")]:
        p = page(i)
        row = extract_one(p["url"], p["html"])
        assert row["success"] is False or row["success"] == False  # noqa: E712
        assert want in row["error"]
        assert row["extracted_text"] == "" and row["spans"] == []


def test_tiny_family_early_exit():
    # i % 20 == 18: success=true, zero spans (D15 early-exit path)
    p = page(18)
    row = extract_one(p["url"], p["html"])
    assert row["success"] and row["n_blocks"] == 0 and row["spans"] == []


def test_oversized_rejected():
    p = page(19, oversize_max=16_000_000)  # 16 MB page > 8 MiB cap
    if len(p["html"]) > 8 * 1024 * 1024:
        row = extract_one(p["url"], p["html"])
        assert not row["success"] and "oversized" in row["error"]


def test_spans_sorted_and_offsets_valid():
    p = page(0)
    row = extract_one(p["url"], p["html"])
    doc = p["html"].decode("utf-8")
    starts = [s["start"] for s in row["spans"]]
    assert starts == sorted(starts)  # O1 document order
    for s in row["spans"]:
        assert 0 <= s["start"] < s["end"] <= len(doc)
        assert 0.0 <= s["confidence"] < 1.0


def test_extracted_text_is_newline_joined_span_texts():
    p = page(1)
    row = extract_one(p["url"], p["html"])
    joined = "\n".join(s["text"] for s in row["spans"] if s["text"])
    assert row["extracted_text"] == joined
