"""The fused det → cls → rec page extractor (the ``processRequest`` analog,
``src/ocr_worker.cpp:213-311``), operating on one batch of pages.

This pure function is the executor payload of the Spark ``mapInPandas``
operator *and* the single-threaded golden extractor (SURVEY.md §3.3: the
library API = the engine minus the server). One call processes a batch of
pages the way one worker drains its queue:

1. guards — empty / oversized / undecodable html → ``success=false`` error
   rows, never exceptions (P6/P9, ``src/ocr_ipc_service.cpp:222-239``,
   ``src/ocr_worker.cpp:192-206,223-226``);
2. det per page (early exit on zero candidates: skip cls+rec entirely, X1,
   ``src/ocr_worker.cpp:235-241,261-267``);
3. cls per page, batched (K3) — label-1 spans dropped (K5 quirk);
4. rec batched ACROSS the whole page batch (R1-R7) — decode output is
   batch-composition independent (see ``core.decode``), so fusing the rec
   batches across pages changes nothing but throughput;
5. assembly — positional zip of det offsets with decoded texts (R8,
   ``src/ocr_worker.cpp:291-300``), document-order sort (O1 promoted to
   live), ``extracted_text`` = newline-join of non-empty span texts.
"""

from __future__ import annotations

import time
from typing import Any, Iterable

import pandas as pd

from ..config import MAX_DOC_CHARS, MAX_HTML_BYTES
from .classify import classify_spans
from .decode import recognize_spans
from .detect import Span, detect_page
from .html_parse import parse_blocks

OUTPUT_COLUMNS = [
    "url",
    "success",
    "error",
    "n_blocks",
    "spans",
    "extracted_text",
    "processing_time_ms",
]


def _span_struct(s: Span, text: str, conf: float) -> dict[str, Any]:
    return {
        "text": text,
        "start": s.start,
        "end": s.end,
        "confidence": conf,
        "block_id": s.block_id,
    }


def _error_row(url: str, error: str) -> dict[str, Any]:
    return {
        "url": url,
        "success": False,
        "error": error,
        "n_blocks": 0,
        "spans": [],
        "extracted_text": "",
        "processing_time_ms": 0.0,
    }


# Route codes (computed JVM-side by ``operators.extract._route_col``, or by
# ``route_of`` here) and the guard messages. This is the one definition of
# the page guard: ``operators.extract.guard_error_col`` renders the same
# constants as a JVM expression.
ROUTE_EMPTY = 0
ROUTE_OVERSIZED = 1
ROUTE_INVALID = 2
ROUTE_WORK = 3

EMPTY_ERROR = "empty html"
OVERSIZED_ERROR = (  # %d = page size in bytes
    f"oversized html (%d bytes > {MAX_HTML_BYTES}); "
    "route via dedicated range partition"
)
INVALID_ERROR = "undecodable html (invalid utf-8)"


def route_of(html: bytes | None) -> int:
    if html is None or len(html) == 0:
        return ROUTE_EMPTY
    if len(html) > MAX_HTML_BYTES:
        return ROUTE_OVERSIZED
    return ROUTE_WORK  # utf-8 validity is discovered at decode time


def guard_error(route: int, size: int) -> str:
    """The error message of a page on a guard route (any route but WORK)."""
    if route == ROUTE_EMPTY:
        return EMPTY_ERROR
    if route == ROUTE_OVERSIZED:
        return OVERSIZED_ERROR % size
    return INVALID_ERROR


def decode_html(html: bytes | None) -> tuple[str | None, str | None]:
    """Transport guards + decode (S2/P6): → (doc, error), never raises."""
    route = route_of(html)
    if route != ROUTE_WORK:
        return None, guard_error(route, len(html or b""))
    try:
        doc = bytes(html).decode("utf-8")
    except (UnicodeDecodeError, ValueError):
        return None, INVALID_ERROR
    return doc[:MAX_DOC_CHARS], None  # D1 limit_side_len analog


def extract_page_stages(
    html: bytes | None,
) -> tuple[str | None, list[Span], str | None]:
    """Guards + det + cls for one page → (doc, surviving spans, error)."""
    doc, error = decode_html(html)
    if error is not None:
        return None, [], error
    blocks = parse_blocks(doc)
    spans = detect_page(doc, blocks)
    if not spans:  # D15 early exit: skip cls+rec
        return doc, [], None
    labels, _scores = classify_spans([s.text for s in spans])
    survivors = [s for s, lab in zip(spans, labels) if lab == 0]  # K5 quirk
    return doc, survivors, None


def extract_batch_routed(
    urls: Iterable[str],
    htmls: Iterable[bytes | None],
    sizes: Iterable[int],
    routes: Iterable[int],
) -> pd.DataFrame:
    """Process one batch of pre-routed pages → output rows.

    ``routes``/``sizes`` come from the JVM single-scan projection (guard
    classification without shipping guard-row bytes); html is None for any
    non-WORK route. Output rows are byte-identical to ``extract_batch``.
    """
    rows: list[dict[str, Any]] = []
    page_spans: list[list[Span]] = []  # per successful page
    page_rows: list[int] = []  # row index of that page
    timings: list[float] = []

    for url, html, size, route in zip(urls, htmls, sizes, routes):
        if route != ROUTE_WORK:
            rows.append(_error_row(url, guard_error(route, int(size or 0))))
            continue
        t0 = time.perf_counter()
        _doc, spans, error = extract_page_stages(html)
        if error is not None:
            rows.append(_error_row(url, error))
            continue
        row = {
            "url": url,
            "success": True,
            "error": None,
            "n_blocks": len(spans),
            "spans": [],
            "extracted_text": "",
            "processing_time_ms": 0.0,
        }
        page_rows.append(len(rows))
        page_spans.append(spans)
        timings.append((time.perf_counter() - t0) * 1000.0)
        rows.append(row)

    # rec: one length-sorted batched pass over every surviving span (R1-R7)
    flat: list[str] = [s.text for spans in page_spans for s in spans]
    t0 = time.perf_counter()
    decoded = recognize_spans(flat)
    rec_ms = (time.perf_counter() - t0) * 1000.0
    n_spans_total = max(1, len(flat))

    cursor = 0
    for row_i, spans, det_ms in zip(page_rows, page_spans, timings):
        k = len(spans)
        page_decoded = decoded[cursor : cursor + k]
        cursor += k
        order = sorted(range(k), key=lambda i: (spans[i].start, spans[i].block_id))
        structs = []
        texts = []
        for i in order:  # O1 document-order sort
            text, conf = page_decoded[i]
            text = text.strip()
            structs.append(_span_struct(spans[i], text, conf))
            if text:
                texts.append(text)
        row = rows[row_i]
        row["spans"] = structs
        row["extracted_text"] = "\n".join(texts)
        row["processing_time_ms"] = det_ms + rec_ms * (k / n_spans_total)

    return pd.DataFrame(rows, columns=OUTPUT_COLUMNS)


def extract_batch(
    urls: Iterable[str], htmls: Iterable[bytes | None]
) -> pd.DataFrame:
    """Process one batch of raw pages → output rows (pure-Python entry)."""
    urls = list(urls)
    htmls = list(htmls)
    sizes = [len(h) if h is not None else 0 for h in htmls]
    routes = [route_of(h) for h in htmls]
    htmls = [
        h if r == ROUTE_WORK else None for h, r in zip(htmls, routes)
    ]
    return extract_batch_routed(urls, htmls, sizes, routes)


def extract_one(url: str, html: bytes | None) -> dict[str, Any]:
    """Single-page convenience wrapper (golden generation, unit tests)."""
    return extract_batch([url], [html]).iloc[0].to_dict()
