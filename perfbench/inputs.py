"""Seeded benchmark inputs, generated once and cached under the work dir.

Extraction workloads read a documents table of ``fixtures.page`` rows whose
ids are a function of (workload, seed) only. The curation workload reads a
fixed documents + embeddings table pair that does not depend on the seed.
Every cache entry is keyed on a content signature of the generator's output,
so a change to the fixture generator can never be benchmarked against stale
parquet.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Oversized-family pages are capped at 2 MB, as in ``bench.py``: the cap keeps
#: generation cheap while the 1-2 MB pages still carry most of the bytes.
OVERSIZE_MAX = 2_000_000

#: Pages per extraction job. Both are multiples of the family period (20 ids
#: for ``crawl_mix`` x 5 oversize size classes, 7 families for
#: ``small_pages``), so every seed gets exactly the same family and size mix.
CRAWL_PAGES = 1000
SMALL_PAGES = 1400
SMALL_FAMILIES = tuple(range(12, 19))  # simple, empty/invalid-utf8, tiny

#: Seeds are folded into this many input slots. A fixture id sets the page's
#: ``warc_ts`` (137 s per id), and the ids of the highest slot must keep it
#: within pandas' datetime64[ns] range (year 2262); seeds that agree modulo
#: the slot count get the same input.
SEED_SLOTS = 10_000

#: Curation tables: sized so one pass of the query list takes a few seconds.
CURATION_DOCS = 500
CURATION_VECS = 500
CURATION_SEED = 20240601
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "en", "de", "es", "fr", "zh", "en", "de", "es", "fr", "zh", "en",
          "en", "en", "en", "de", "es", "fr", "zh", "en")

#: Bump when the on-disk layout of a cache entry changes.
_FORMAT = "v1"
_KEEP_ENTRIES = 3  # cached page tables kept per workload


def page_ids(workload: str, seed: int) -> list[int]:
    """Fixture row ids of one extraction workload's input; any integer seed."""
    slot = seed % SEED_SLOTS
    if workload == "crawl_mix":
        base = slot * CRAWL_PAGES
        return list(range(base, base + CRAWL_PAGES))
    if workload == "small_pages":
        k = len(SMALL_FAMILIES)
        first_block = slot * (SMALL_PAGES // k)
        return [
            (first_block + j // k) * 20 + SMALL_FAMILIES[j % k]
            for j in range(SMALL_PAGES)
        ]
    raise ValueError(f"not an extraction workload: {workload}")


def expected_route(html: bytes | None, max_bytes: int) -> str:
    """The guard route a page must take: empty/oversized/invalid/work."""
    if not html:
        return "empty"
    if len(html) > max_bytes:
        return "oversized"
    try:
        html.decode("utf-8")
    except UnicodeDecodeError:
        return "invalid"
    return "work"


def _signature(*parts: bytes) -> str:
    h = hashlib.md5(_FORMAT.encode())
    for p in parts:
        h.update(len(p).to_bytes(8, "little"))
        h.update(p)
    return h.hexdigest()[:12]


def _prune(root: pathlib.Path, prefix: str, keep: pathlib.Path) -> None:
    entries = sorted(
        (p for p in root.glob(prefix + "*") if p != keep),
        key=lambda p: p.stat().st_mtime,
    )
    for p in entries[: max(0, len(entries) - (_KEEP_ENTRIES - 1))]:
        shutil.rmtree(p, ignore_errors=True)


def _write_parts(table: pa.Table, path: pathlib.Path, n_files: int) -> None:
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(
            table.slice(lo, hi - lo),
            tmp / f"part-{k:05d}.parquet",
            coerce_timestamps="us",
        )
    (tmp / "_SUCCESS").touch()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def pages_table(work: pathlib.Path, workload: str, seed: int, n_files: int):
    """Return (parquet dir, {url: expected route}, generated now?).

    The page table is written as ``n_files`` parquet files (four per core:
    four scan waves bound the straggler penalty of one slow task).
    """
    from cpp_paddle_ocr_spark.config import MAX_HTML_BYTES
    from cpp_paddle_ocr_spark.fixtures import page

    ids = page_ids(workload, seed)
    slot = seed % SEED_SLOTS
    # the first 20 ids cover every family of either workload, including one
    # oversized page on crawl_mix
    probe = b"".join((page(i, OVERSIZE_MAX)["html"] or b"-") for i in ids[:20])
    sig = _signature(
        f"{workload}/{slot}/{len(ids)}/{OVERSIZE_MAX}/{n_files}".encode(), probe
    )
    root = work / "inputs"
    path = root / f"{workload}-s{slot}-{sig}"
    fresh = not (path / "_SUCCESS").exists()
    rows = None
    if fresh:
        rows = [page(i, OVERSIZE_MAX) for i in ids]
        schema = pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        )
        table = pa.Table.from_pylist(rows, schema=schema)
        _write_parts(table, path, n_files)
        _prune(root, f"{workload}-", path)
    routes = {}
    if rows is None:
        t = pq.read_table(path, columns=["url", "html"])
        pairs = zip(t.column("url").to_pylist(), t.column("html").to_pylist())
    else:
        pairs = ((r["url"], r["html"]) for r in rows)
    for url, html in pairs:
        routes[url] = expected_route(html, MAX_HTML_BYTES)
    if len(routes) != len(ids):
        raise RuntimeError(f"{path}: {len(routes)} urls, expected {len(ids)}")
    return path, routes, fresh


def _curation_frames():
    rng = np.random.default_rng(CURATION_SEED)
    texts: list[str] = []
    base: list[str] = []
    for i in range(CURATION_DOCS):
        words = rng.choice(_VOCAB, size=int(rng.integers(10, 101)))
        body = " ".join(words)
        base.append(body)
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            body = base[int(rng.integers(0, i))] + " dup"
        texts.append(body)
    docs = pa.table(
        {
            "doc_id": pa.array(range(CURATION_DOCS), pa.int64()),
            "text": texts,
            "lang": [_LANGS[int(rng.integers(0, len(_LANGS)))] for _ in texts],
            "source": [f"src{i % 20}" for i in range(CURATION_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((CURATION_VECS, 64))
    for i in range(1, CURATION_VECS):
        if rng.random() < 0.1:  # semantic near-duplicate of an earlier vector
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.3 * rng.standard_normal(64)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(CURATION_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, CURATION_VECS), pa.int32()),
        }
    )
    return {"documents": docs, "embeddings": emb}


def _ipc_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def curation_tables(work: pathlib.Path):
    """Return (sf-style table dir, generated now?). One file per table, one
    row group each: the same layout as the engine's driver tables."""
    frames = _curation_frames()
    sig = _signature(*(_ipc_bytes(frames[t]) for t in sorted(frames)))
    path = work / "inputs" / f"curation-{sig}"
    fresh = not (path / "_SUCCESS").exists()
    if fresh:
        tmp = path.with_name(path.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        for name, table in frames.items():
            pq.write_table(table, tmp / f"{name}.parquet")
        (tmp / "_SUCCESS").touch()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        _prune(work / "inputs", "curation-", path)
    return path, fresh
