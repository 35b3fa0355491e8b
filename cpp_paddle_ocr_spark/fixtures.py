"""Deterministic synthetic Common-Crawl-style pages (FIXTURES.md).

The analog of the reference's test fixtures: ``createTestImage`` (white canvas
+ 3 putText lines, ``tests/test_ocr_worker.cpp:70-83``), the real
``images/card-jd.jpg`` card, the empty ``cv::Mat`` and the 10×10
``small_image_`` (``tests/test_ocr_worker.cpp:33,235-260``). Everything is
keyed on ``(SEED, i)`` so any scale regenerates byte-identically in any
process — no external data, no wall clock.

Family mix by ``i % 20`` (FIXTURES.md): 12 realistic-card / 5 synthetic-simple
/ 1 empty / 1 tiny / 1 oversized.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd

SEED = 42
N_HOSTS = 97
EPOCH = dt.datetime(2025, 1, 1, 0, 0, 0)

#: The committed golden sets (``tests/golden/``): ``scripts/gen_golden.py``
#: writes rows [0, N_GOLDEN) with oversized pages capped at
#: GOLDEN_OVERSIZE_MAX (the 16 MB error path is covered separately by
#: ``tests/test_spark_extract.py``); ``scripts/gen_media_golden.py`` writes
#: media rows [0, N_MEDIA_GOLDEN). The driver checks read the same names.
N_GOLDEN = 2000
GOLDEN_OVERSIZE_MAX = 2_000_000
N_MEDIA_GOLDEN = 60

_rng = random.Random(SEED)
_CONS = "bcdfghjklmnpqrstvwz"
_VOW = "aeiou"
WORDS = tuple(
    "".join(
        _rng.choice(_CONS) + _rng.choice(_VOW)
        for _ in range(_rng.randint(2, 4))
    )
    for _ in range(400)
) + (
    "the", "a", "of", "to", "in", "and", "is", "that", "for", "with",
    "was", "on", "as", "are", "this", "be", "it", "from", "at", "by",
)

_NAV_WORDS = (
    "HOME", "NEWS", "SPORTS", "POLITICS", "BUSINESS", "TECH", "CULTURE",
    "OPINION", "VIDEO", "LOCAL", "WORLD", "SCIENCE", "HEALTH", "TRAVEL",
)
_CTA_LINES = (
    "READ MORE | SUBSCRIBE NOW | FOLLOW US",
    "SHARE THIS | TWEET | PIN IT | EMAIL",
    "SIGN UP TODAY | FREE TRIAL | JOIN NOW",
    "TRENDING NOW | MOST READ | EDITOR PICKS",
)
_CJK = "数据处理引擎高效提取网页正文内容分布式计算"


def _sentence(r: random.Random, n: int) -> str:
    ws = [r.choice(WORDS) for _ in range(n)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _paragraph(r: random.Random, lang: str) -> str:
    n_sent = r.randint(2, 5)
    sents = [_sentence(r, r.randint(6, 16)) for _ in range(n_sent)]
    if lang == "zh" and r.random() < 0.5:
        k = r.randint(4, 12)
        a = r.randrange(0, len(_CJK) - 1)
        sents.append(_CJK[a : a + max(2, min(k, len(_CJK) - a))] + "。")
    text = " ".join(sents)
    # sprinkle rec-exercising noise: entities, double spaces, inline tags
    if r.random() < 0.3:
        text = text.replace(" ", "&nbsp;", 1)
    if r.random() < 0.3:
        text = text.replace(". ", ".  ", 1)
    if r.random() < 0.4:
        w = r.choice(WORDS)
        text += f" Costs {r.randint(3, 99)} &amp; {w} <b>more</b> today."
    return text


def _nav_bar(r: random.Random) -> str:
    items = r.sample(_NAV_WORDS, r.randint(5, 9))
    links = " | ".join(f'<a href="/{w.lower()}">{w}</a>' for w in items)
    return f'<nav class="topnav">{links}</nav>'


def _sidebar(r: random.Random) -> str:
    lis = "".join(
        f'<li><a href="/t/{w}">{w} {r.choice(WORDS)}</a></li>'
        for w in r.sample(WORDS, 6)
    )
    return f'<div class="sidebar widget"><ul>{lis}</ul></div>'


def _ad(r: random.Random) -> str:
    return (
        f'<div class="ad banner">BUY {r.choice(WORDS).upper()} NOW '
        f"| LIMITED OFFER | {r.randint(10, 90)}% OFF</div>"
    )


def _realistic_card(r: random.Random, i: int, lang: str) -> str:
    n_par = r.randint(5, 40)
    title = _sentence(r, r.randint(4, 8))[:-1]
    paras = []
    for p in range(n_par):
        paras.append(f"<p>{_paragraph(r, lang)}</p>")
        # the "upside-down block": boilerplate that mimics content (no link,
        # no hint ancestor) — only the cls stage can catch it (FIXTURES.md §2)
        if r.random() < 0.15:
            paras.append(f"<p>{r.choice(_CTA_LINES)}</p>")
    return (
        "<!DOCTYPE html><html><head><title>t</title>"
        "<style>p{margin:0}</style><script>var x=1;</script></head><body>"
        + _nav_bar(r)
        + f'<header class="site-header">{_ad(r)}</header>'
        + f"<main><article><h1>{title}</h1>"
        + "".join(paras)
        + "</article></main>"
        + _sidebar(r)
        + _ad(r)
        + f'<footer>© 2025 host{i % N_HOSTS} | '
        '<a href="/tos">Terms</a> | <a href="/priv">Privacy</a></footer>'
        "</body></html>"
    )


def _synthetic_simple(r: random.Random, lang: str) -> str:
    # analog of createTestImage: 3 clean content paragraphs, no boilerplate
    paras = "".join(f"<p>{_paragraph(r, lang)}</p>" for _ in range(3))
    return f"<html><body>{paras}</body></html>"


def _oversized(r: random.Random, i: int, oversize_max: int) -> str:
    sizes = [1, 2, 4, 8, 16]
    target = min(sizes[(i // 20) % len(sizes)] * 1_000_000, oversize_max)
    chunk = f"<p>{_paragraph(r, 'en')}</p>"
    reps = max(1, target // len(chunk))
    return f"<html><body>{chunk * reps}</body></html>"


_TAG_STRIP = __import__("re").compile(r"<[^>]*>")


def page(i: int, oversize_max: int = 16_000_000) -> dict:
    """Generate row ``i`` of the documents table (input_hint schema)."""
    r = random.Random((SEED << 32) ^ i)
    host = 0 if i % 5 == 0 else i % N_HOSTS  # 20% of rows on the mega-host
    url = f"https://host{host}.example/page/{i}"
    warc_ts = EPOCH + dt.timedelta(seconds=137 * i)
    lang = ("en", "zh", "de", "")[i % 4]
    b = i % 20
    if b < 12:
        html = _realistic_card(r, i, lang).encode("utf-8")
    elif b < 17:
        html = _synthetic_simple(r, lang).encode("utf-8")
    elif b == 17:
        html = (None, b"", b"\xff\xfe\x80garbage\x80\xff")[i % 3]
    elif b == 18:
        html = b"<html><body>ok</body></html>"
    else:
        html = _oversized(r, i, oversize_max).encode("utf-8")
    text = _TAG_STRIP.sub(" ", html.decode("utf-8", "ignore")) if html else ""
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html,
        "text": text[:4000],
        "lang": lang,
    }


def build_documents_pdf(n: int, oversize_max: int = 16_000_000) -> pd.DataFrame:
    """Rows [0, n) as a pandas DataFrame (input_hint columns)."""
    return pd.DataFrame(
        [page(i, oversize_max) for i in range(n)],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )


# ---------------------------------------------------------------------------
# Media fixtures (multimodal plumbing): deterministic binary blobs keyed on
# (SEED, i) — valid container headers (and, for BMP, a REAL pixel array) so
# decode_media_meta(real=True) / extract_media_features(real=True) exercise
# genuine byte parsing, mirroring how fixtures.page feeds the text cascade.
# ---------------------------------------------------------------------------


def _media_bmp(i: int, w: int, h: int) -> bytes:
    """Uncompressed 24-bit BMP with a deterministic pixel pattern."""
    import struct

    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    for y in range(h):  # stored bottom-up
        row = bytearray()
        for x in range(w):
            row += bytes(
                (
                    (x * 7 + y * 13 + i) % 256,       # B
                    (x * 3 + y * 5 + i * 11) % 256,   # G
                    (x * 17 + y + i * 29) % 256,      # R
                )
            )
        row += b"\x00" * (stride - len(row))
        rows += row
    pix = bytes(rows)
    file_header = b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return file_header + dib + pix


def _media_png(i: int, w: int, h: int) -> bytes:
    """Minimal valid PNG (8-bit RGB) with a deterministic scanline fill."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes((x * 31 + y * 7 + i) % 256 for x in range(w * 3))
        for y in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _media_gif(i: int, w: int, h: int) -> bytes:
    body = bytes((j * 37 + i) % 256 for j in range(24))
    return (
        b"GIF89a"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + b"\x00\x00\x00"
        + body
    )


def _media_jpeg(i: int, w: int, h: int) -> bytes:
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x01\x01\x11\x00"
    )
    scan = bytes((j * 53 + i * 7) % 256 for j in range(40 + i % 64))
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xda" + scan + b"\xff\xd9"


def _media_wav(i: int) -> bytes:
    import struct

    n_samples = 64 + (i % 128)
    data = bytes((j * 11 + i * 3) % 256 for j in range(n_samples * 2))
    fmt = struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def media_item(i: int) -> dict:
    """Row ``i`` of the deterministic media table (url, media binary).

    Family mix by ``i % 10``: 2 BMP (real decodable pixels) / 2 PNG / 1 GIF /
    1 JPEG / 1 WAV / 1 html blob / 1 NULL / 1 truncated-garbage — covering
    every parser branch plus the guard paths."""
    r = random.Random((SEED << 33) ^ i)
    url = f"https://media{i % N_HOSTS}.example/asset/{i}"
    b = i % 10
    if b in (0, 1):
        media = _media_bmp(i, 5 + i % 16, 3 + i % 12)
    elif b in (2, 3):
        media = _media_png(i, 4 + i % 30, 2 + i % 20)
    elif b == 4:
        media = _media_gif(i, 16 + i % 600, 10 + i % 400)
    elif b == 5:
        media = _media_jpeg(i, 32 + i % 1900, 24 + i % 1000)
    elif b == 6:
        media = _media_wav(i)
    elif b == 7:
        media = f"<html><body><p>{_sentence(r, 8)}</p></body></html>".encode()
    elif b == 8:
        media = None
    else:
        media = bytes(r.randrange(256) for _ in range(1 + i % 40))
    return {"url": url, "media": media}


# ---------------------------------------------------------------------------
# Layout fixtures (T1-T3 structure stage): pages with explicit structural
# regions — header / nav / tables / figure / footer — deterministic on
# (SEED, i), covering nested, attribute-bearing, empty-cell, and unclosed
# table shapes plus region-free pages.
# ---------------------------------------------------------------------------


def _layout_table(r: random.Random, rows: int, cols: int, attrs: bool) -> str:
    head_cells = "".join(
        f"<td>{r.choice(WORDS).capitalize()}</td>" for _ in range(cols)
    )
    body = []
    for ri in range(rows):
        cells = []
        for ci in range(cols):
            if attrs and ri == 0 and ci == 0:
                cells.append(f'<td colspan="2">{_sentence(r, 3)}</td>')
            elif (ri + ci) % 7 == 6:
                cells.append("<td></td>")  # empty cell → merged label
            else:
                cells.append(f"<td>{_sentence(r, r.randint(2, 5))}</td>")
        body.append("<tr>" + "".join(cells) + "</tr>")
    return (
        "<table><thead><tr>"
        + head_cells
        + "</tr></thead><tbody>"
        + "".join(body)
        + "</tbody></table>"
    )


def layout_page(i: int) -> dict:
    """Row ``i`` of the deterministic layout table (url, html binary)."""
    r = random.Random((SEED << 34) ^ i)
    url = f"https://layout{i % N_HOSTS}.example/doc/{i}"
    b = i % 8
    parts = ["<html><body>"]
    if b != 5:
        parts.append(f"<header><h1>{_sentence(r, 4)}</h1></header>")
    if b not in (5, 6):
        nav = " | ".join(f'<a href="/{w}">{w.upper()}</a>' for w in
                         (r.choice(WORDS) for _ in range(6)))
        parts.append(f"<nav>{nav}</nav>")
    parts.append(f"<p>{_paragraph(r, 'en')}</p>")
    if b in (0, 1, 2):
        parts.append(_layout_table(r, 2 + i % 4, 2 + i % 3, attrs=(b == 1)))
    if b == 2:  # second table on the same page
        parts.append(f"<p>{_sentence(r, 10)}</p>")
        parts.append(_layout_table(r, 2, 2, attrs=False))
    if b == 3:  # nested table — outer region only (flat decode)
        inner = _layout_table(r, 1, 2, attrs=False)
        parts.append(
            "<table><tbody><tr><td>outer</td><td>"
            + inner
            + "</td></tr></tbody></table>"
        )
    if b == 4:  # unclosed table → region runs to end of document
        parts.append("<table><tbody><tr><td>dangling cell</td>")
    if b == 6:
        parts.append(f'<figure><img src="/img/{i}.png"><figcaption>{_sentence(r, 5)}</figcaption></figure>')
    parts.append(f"<p>{_paragraph(r, 'en')}</p>")
    if b != 5:
        parts.append(f"<footer>© 2025 {_sentence(r, 3)}</footer>")
    parts.append("</body></html>")
    return {"url": url, "html": "".join(parts).encode("utf-8")}
