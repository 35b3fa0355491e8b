"""The page guard (empty / oversized / invalid utf-8) is defined once, in
``core.pipeline``, and every cascade surface answers it identically.

Parity: the fused ``extract``, the staged pipeline, the composed
``extract_with_layout`` and the pure ``extract_batch`` agree per url on
adversarial pages — the JVM renderings (``_route_col``, ``guard_error_col``)
are checked equal to the Python guard, not kept in sync by hand.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from cpp_paddle_ocr_spark.config import MAX_HTML_BYTES
from cpp_paddle_ocr_spark.core.pipeline import (
    EMPTY_ERROR,
    INVALID_ERROR,
    OVERSIZED_ERROR,
    extract_batch,
)

PKG = pathlib.Path(__file__).resolve().parents[1] / "cpp_paddle_ocr_spark"


def _page_of_size(n: int) -> bytes:
    head, tail = b"<html><body>", b"</body></html>"
    body = b"<p>Plain prose sentence with enough words to count as content.</p>\n"
    html = head + body * ((n - len(head) - len(tail)) // len(body))
    return html + b" " * (n - len(html) - len(tail)) + tail


PROSE = b"<p>The committee published its annual report on regional water use.</p>"

ADVERSARIAL = [
    ("u-none", None),
    ("u-empty", b""),
    ("u-at-limit", _page_of_size(MAX_HTML_BYTES)),
    ("u-over-limit", _page_of_size(MAX_HTML_BYTES + 1)),
    ("u-nul", b"<html><body>" + PROSE + b"<p>nul\x00byte inside text</p></body></html>"),
    ("u-truncated-mb", b"<html><body>" + PROSE + b"<p>cut \xe6\x97</p></body></html>"),
    ("u-surrogate", b"<html><body>" + PROSE + b"<p>\xed\xa0\x80</p></body></html>"),
    ("u-overlong", b"<html><body>" + PROSE + b"<p>\xc0\xaf</p></body></html>"),
    ("u-above-max-cp", b"<html><body>" + PROSE + b"<p>\xf4\x90\x80\x80</p></body></html>"),
    ("u-bom", b"\xef\xbb\xbf<html><body>" + PROSE + b"</body></html>"),
    ("u-unclosed", b"<html><body><div><p>" + PROSE + b"<b>bold <i>italic text never closed"),
    ("u-nested", b"<div>" * 3000 + PROSE + b"<span>" * 500),
]


@pytest.fixture(scope="module")
def adversarial_df(spark):
    df = spark.createDataFrame(ADVERSARIAL, "url string, html binary").cache()
    yield df
    df.unpersist()


def _key(r) -> tuple:
    return (bool(r["success"]), r["error"], int(r["n_blocks"]), r["extracted_text"])


def test_guard_parity_on_adversarial_pages(adversarial_df):
    from cpp_paddle_ocr_spark.operators.extract import extract
    from cpp_paddle_ocr_spark.operators.layout import extract_with_layout
    from cpp_paddle_ocr_spark.operators.staged import extract_staged

    pure = extract_batch([u for u, _ in ADVERSARIAL], [h for _, h in ADVERSARIAL])
    want = {r["url"]: _key(r) for _, r in pure.iterrows()}
    # each guard route and the work route are exercised
    assert want["u-none"][1] == want["u-empty"][1] == EMPTY_ERROR
    assert want["u-over-limit"][1] == OVERSIZED_ERROR % (MAX_HTML_BYTES + 1)
    assert want["u-at-limit"][0] and want["u-at-limit"][2] > 0
    for url in ("u-truncated-mb", "u-surrogate", "u-overlong", "u-above-max-cp"):
        assert want[url][1] == INVALID_ERROR, url
    for url in ("u-nul", "u-bom", "u-unclosed", "u-nested"):
        assert want[url][0], url

    for name, op in (
        ("extract", extract),
        ("extract_staged", extract_staged),
        ("extract_with_layout", extract_with_layout),
    ):
        rows = op(adversarial_df).select(
            "url", "success", "error", "n_blocks", "extracted_text"
        ).collect()
        got = {r["url"]: _key(r) for r in rows}
        assert len(rows) == len(ADVERSARIAL), name
        for url, expect in want.items():
            assert got[url] == expect, (name, url)


def _modules_containing(pattern: str, root: pathlib.Path) -> dict[str, int]:
    rx = re.compile(pattern)
    hits = {}
    for p in sorted(root.rglob("*.py")):
        n = len(rx.findall(p.read_text(encoding="utf-8")))
        if n:
            hits[p.relative_to(PKG).as_posix()] = n
    return hits


@pytest.mark.parametrize(
    "literal", ["undecodable html", "route via dedicated range partition"]
)
def test_guard_messages_live_in_one_module(literal):
    hits = _modules_containing(re.escape(literal), PKG)
    assert list(hits) == ["core/pipeline.py"], hits


def test_cascade_has_one_mapinpandas_payload():
    hits = _modules_containing(r"extract_batch_routed\(", PKG / "operators")
    assert hits == {"operators/extract.py": 1}, hits
