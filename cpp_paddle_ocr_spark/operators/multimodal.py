"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video are carried as ``binary`` columns with typed metadata,
processed via Arrow-batched ``mapInPandas`` — same batching discipline as the
extraction cascade.

``decode_media_meta(real=True)`` performs REAL header decoding for PNG
(IHDR), GIF (logical screen descriptor), JPEG (SOF segment scan) and BMP
(BITMAPINFOHEADER) — pure-Python byte parsing, no codec library — yielding
true width/height/media_type; formats without a parser get NULL dims.
Pixel/sample-level work is REAL for uncompressed BMP
(``decode_bmp_pixels``), non-interlaced 8-bit PNG (``decode_png_pixels`` —
stdlib ``zlib`` inflate + NumPy unfilter, all five row filters) and
integer-PCM WAV (``decode_wav_samples``) — none need an external codec —
so ``extract_media_features(real=True)`` produces genuine pixel- or
sample-derived features end-to-end for those formats. Formats that
genuinely need a codec library (JPEG entropy-decode/DCT, video demux —
libjpeg/ffmpeg, absent in this container) stay STUBBED: ``real=False``
(default) runs a deterministic fake (hash-derived values) that keeps every
Spark-side contract real — schema, partitioning, UDF signature, Arrow
batch shape — and ``real=True`` raises ``NotImplementedError`` where the
codec call would go.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("magic", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("media_type", T.StringType(), True),
    ]
)

_MAGICS = {
    b"\xff\xd8\xff": "image/jpeg",
    b"\x89PNG": "image/png",
    b"GIF8": "image/gif",
    b"BM": "image/bmp",
    b"RIFF": "audio/wav",
    b"<!DO": "text/html",
    b"<htm": "text/html",
}


def _fake_decode(blob: bytes) -> tuple[int, int]:
    """Deterministic stand-in for the codec: dims from a byte hash."""
    h = int.from_bytes(blob[:8].ljust(8, b"\0"), "little")
    return 64 + (h % 1920), 64 + ((h >> 16) % 1080)


def parse_image_dims(blob: bytes) -> tuple[int | None, int | None]:
    """Real (width, height) from the container header — pure-Python byte
    parsing of the published file formats, no codec library.

    PNG: 8-byte signature, first chunk is IHDR with big-endian u32 dims.
    GIF: 'GIF87a'/'GIF89a' then the logical screen descriptor (LE u16 dims).
    JPEG: scan marker segments for SOFn (C0-CF minus C4/C8/CC); dims are
    big-endian u16 at offsets 5/7 of the segment payload.
    BMP: BITMAPINFOHEADER signed LE i32 dims at offsets 18/22 (height may be
    negative for top-down bitmaps).
    """
    if blob.startswith(b"\x89PNG\r\n\x1a\n") and len(blob) >= 24:
        return (
            int.from_bytes(blob[16:20], "big"),
            int.from_bytes(blob[20:24], "big"),
        )
    if blob.startswith((b"GIF87a", b"GIF89a")) and len(blob) >= 10:
        return (
            int.from_bytes(blob[6:8], "little"),
            int.from_bytes(blob[8:10], "little"),
        )
    if blob.startswith(b"\xff\xd8"):
        i = 2
        while i + 9 <= len(blob):
            if blob[i] != 0xFF:
                i += 1
                continue
            marker = blob[i + 1]
            if marker == 0xFF:
                i += 1
                continue
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                i += 2  # standalone markers have no length field
                continue
            if i + 4 > len(blob):
                break
            seg_len = int.from_bytes(blob[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= len(blob):
                    return (
                        int.from_bytes(blob[i + 7 : i + 9], "big"),
                        int.from_bytes(blob[i + 5 : i + 7], "big"),
                    )
                break
            i += 2 + seg_len
        return None, None
    if blob.startswith(b"BM") and len(blob) >= 26:
        w = int.from_bytes(blob[18:22], "little", signed=True)
        h = int.from_bytes(blob[22:26], "little", signed=True)
        # height may legitimately be negative (top-down bitmap) → abs;
        # a non-positive WIDTH is malformed per the spec → no dims at all
        # (a negative width must not propagate as a negative dimension)
        if w <= 0:
            return None, None
        return w, abs(h)
    return None, None


def media_meta_row(url: str, blob: bytes | None, real: bool) -> tuple:
    """Pure per-row metadata kernel — shared by the Spark operator and the
    no-Spark golden generator (``scripts/gen_media_golden.py``), so the
    committed oracle TSV is produced by the exact code under test."""
    if blob is None:
        return (url, 0, None, None, None, None)
    blob = bytes(blob)
    magic = blob[:4].hex() if blob else None
    mt = next(
        (v for k, v in _MAGICS.items() if blob.startswith(k)),
        "application/octet-stream",
    )
    if real:
        w, h = parse_image_dims(blob)
    else:
        w, h = _fake_decode(blob)
    return (url, len(blob), magic, w, h, mt)


def decode_media_meta(df: DataFrame, real: bool = False) -> DataFrame:
    """binary column → typed media metadata rows (mapInPandas fan-through).

    ``real=True`` parses true dims from PNG/GIF/JPEG/BMP headers (NULL dims
    for other formats); ``real=False`` keeps the deterministic fake used by
    the driver fixtures. Rows are iterated in Python — fine here: header
    parsing is non-vectorizable byte logic bounded to a few dozen bytes per
    row, so the Arrow batch transfer, not the loop, dominates.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                media_meta_row(url, blob, real)
                for url, blob in zip(pdf["url"], pdf["media"])
            ]
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_META_SCHEMA.fields]
            )

    return df.select("url", F.col("media")).mapInPandas(fn, MEDIA_META_SCHEMA)


def decode_bmp_pixels(blob: bytes) -> "np.ndarray | None":
    """REAL pixel-array decode for uncompressed BMP — pure offset
    arithmetic, no codec library (round-2 verdict #6).

    Supports BITMAPINFOHEADER (or larger) DIB headers with BI_RGB
    (compression=0) at 24 or 32 bits per pixel; rows are 4-byte aligned and
    stored bottom-up (negative height = top-down). Returns an (h, w, 3)
    uint8 RGB array, or None if the blob is not a decodable BMP.
    """
    if not blob.startswith(b"BM") or len(blob) < 54:
        return None
    pix_off = int.from_bytes(blob[10:14], "little")
    dib_size = int.from_bytes(blob[14:18], "little")
    if dib_size < 40:
        return None
    w = int.from_bytes(blob[18:22], "little", signed=True)
    h_raw = int.from_bytes(blob[22:26], "little", signed=True)
    bpp = int.from_bytes(blob[28:30], "little")
    compression = int.from_bytes(blob[30:34], "little")
    if w <= 0 or h_raw == 0 or compression != 0 or bpp not in (24, 32):
        return None
    h = abs(h_raw)
    nch = bpp // 8
    stride = (w * nch + 3) & ~3  # rows padded to 4-byte boundaries
    need = pix_off + stride * h
    if pix_off < 14 + dib_size or len(blob) < need:
        return None
    rows = np.frombuffer(blob, dtype=np.uint8, count=stride * h, offset=pix_off)
    rows = rows.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    if h_raw > 0:  # bottom-up storage → flip to top-down
        rows = rows[::-1]
    # stored BGR(A) → RGB
    return np.ascontiguousarray(rows[:, :, 2::-1])


def decode_png_pixels(blob: bytes) -> "np.ndarray | None":
    """REAL pixel-array decode for non-interlaced 8-bit PNG — stdlib
    ``zlib`` inflate + NumPy per-row unfilter, no codec library (round-3
    verdict #3: PNG compression is RFC-1950 zlib, which every CPython
    ships; only JPEG's entropy-coding/DCT and video demux genuinely need
    external codecs).

    Supports bit depth 8 with color types 0 (gray), 2 (RGB), 4 (gray+alpha)
    and 6 (RGBA), interlace 0, all five row filters (None/Sub/Up/Average/
    Paeth). Returns an (h, w, 3) uint8 RGB array (gray replicated, alpha
    dropped), or None if the blob is not a decodable PNG of that shape.
    """
    import zlib

    if not blob.startswith(b"\x89PNG\r\n\x1a\n"):
        return None
    pos = 8
    ihdr = None
    idat = []
    while pos + 8 <= len(blob):
        clen = int.from_bytes(blob[pos : pos + 4], "big")
        ctyp = blob[pos + 4 : pos + 8]
        body = blob[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            return None
        if ctyp == b"IHDR":
            ihdr = body
        elif ctyp == b"IDAT":
            idat.append(body)
        elif ctyp == b"IEND":
            break
        pos += 12 + clen  # length + type + data + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, compression, filter_method, interlace = ihdr[8:13]
    nch = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if (
        nch is None
        or bit_depth != 8
        or compression != 0
        or filter_method != 0
        or interlace != 0
        or w <= 0
        or h <= 0
    ):
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * nch
    if len(raw) < h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    p = 0
    for y in range(h):
        ft = raw[p]
        row = np.frombuffer(raw, np.uint8, count=stride, offset=p + 1).copy()
        p += stride + 1
        if ft == 0:  # None
            rec = row
        elif ft == 1:  # Sub: per byte-lane cumsum mod 256 (uint8 wraps)
            rec = np.add.accumulate(
                row.reshape(w, nch), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif ft == 2:  # Up
            rec = row + prev  # uint8 wrap-around is the mod-256 spec math
        elif ft == 3:  # Average: sequential along the row
            rec = np.zeros(stride, dtype=np.uint8)
            for i in range(stride):
                a = int(rec[i - nch]) if i >= nch else 0
                rec[i] = (int(row[i]) + ((a + int(prev[i])) >> 1)) & 0xFF
        elif ft == 4:  # Paeth: sequential along the row
            rec = np.zeros(stride, dtype=np.uint8)
            for i in range(stride):
                a = int(rec[i - nch]) if i >= nch else 0
                b = int(prev[i])
                c = int(prev[i - nch]) if i >= nch else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[i] = (int(row[i]) + pred) & 0xFF
        else:
            return None
        out[y] = rec
        prev = rec
    px = out.reshape(h, w, nch)
    if nch == 1:
        return np.repeat(px, 3, axis=2)
    if nch == 2:  # gray + alpha → replicate gray, drop alpha
        return np.repeat(px[:, :, :1], 3, axis=2)
    return np.ascontiguousarray(px[:, :, :3])  # RGB / RGBA→RGB


def decode_wav_samples(blob: bytes) -> "tuple[np.ndarray, int] | None":
    """REAL sample decode for PCM WAV — RIFF chunk walk, pure offset
    arithmetic, no codec library.

    Supports format 1 (integer PCM) at 8/16/32 bits, any channel count
    (channels are averaged to mono). Returns (samples float64 in [-1, 1],
    sample_rate), or None if the blob is not a decodable PCM WAV.
    """
    if not blob.startswith(b"RIFF") or len(blob) < 44 or blob[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        size = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    # sample_rate == 0 would make wav_features' duration divide by zero —
    # a zeroed rate field is malformed, reject like any undecodable blob
    if (
        audio_format != 1
        or n_channels < 1
        or sample_rate == 0
        or bits not in (8, 16, 32)
    ):
        return None
    width = bits // 8
    usable = (len(data) // (width * n_channels)) * width * n_channels
    if usable == 0:
        return None
    if bits == 8:  # 8-bit WAV is UNSIGNED
        raw = np.frombuffer(data, np.uint8, count=usable).astype(np.float64)
        raw = (raw - 128.0) / 128.0
    else:
        dt = np.int16 if bits == 16 else np.int32
        raw = np.frombuffer(data, dt, count=usable // width).astype(np.float64)
        raw = raw / float(2 ** (bits - 1))
    return raw.reshape(-1, n_channels).mean(axis=1), sample_rate


def wav_features(samples: "np.ndarray", sample_rate: int) -> "np.ndarray":
    """FEATURE_DIM real features from decoded PCM samples: [rms, mean |x|,
    peak, zero-crossing rate, mean, std, duration (log-scaled to [0,1]),
    rate (scaled)] — deterministic audio descriptors from true samples."""
    x = samples
    dur = x.size / float(sample_rate)
    zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if x.size > 1 else 0.0
    return np.array(
        [
            float(np.sqrt(np.mean(x * x))),
            float(np.mean(np.abs(x))),
            float(np.max(np.abs(x))),
            zcr,
            (float(np.mean(x)) + 1.0) / 2.0,
            float(np.std(x)),
            min(1.0, np.log1p(dur) / 10.0),
            min(1.0, sample_rate / 192_000.0),
        ]
    )


def bmp_features(px: "np.ndarray") -> "np.ndarray":
    """FEATURE_DIM real features from a decoded (h, w, 3) RGB array — the
    deterministic stand-in for a CNN forward, computed from true pixels:
    [mean R, mean G, mean B, mean gray, std gray, min gray, max gray,
    aspect w/(w+h)], all scaled to [0, 1]."""
    h, w = px.shape[:2]
    f = px.astype(np.float64)
    gray = f.mean(axis=2)
    return np.array(
        [
            f[:, :, 0].mean() / 255.0,
            f[:, :, 1].mean() / 255.0,
            f[:, :, 2].mean() / 255.0,
            gray.mean() / 255.0,
            gray.std() / 255.0,
            gray.min() / 255.0,
            gray.max() / 255.0,
            w / (w + h),
        ]
    )


FEATURE_DIM = 8

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.DoubleType()), False),
    ]
)


def extract_media_features(df: DataFrame, real: bool = False) -> DataFrame:
    """binary column → FEATURE_DIM-dim embedding.

    Batch shape is real either way: one NumPy matrix per Arrow batch — the
    stand-in for a batched model forward (X2 discipline).

    ``real=True`` decodes TRUE pixels for uncompressed BMP and 8-bit PNG
    blobs (``decode_bmp_pixels`` / ``decode_png_pixels``) and TRUE samples
    for PCM WAV blobs (``decode_wav_samples``) — offset arithmetic plus
    stdlib zlib, no codec library — and derives the features from them;
    formats that genuinely need a codec (JPEG entropy-decode/DCT, video
    demux) raise ``NotImplementedError``. ``real=False`` keeps the
    deterministic byte-hash fake for every format.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = np.zeros((len(pdf), FEATURE_DIM), dtype=np.float64)
            for i, blob in enumerate(pdf["media"]):
                if not blob:
                    continue
                blob = bytes(blob)
                if real:
                    px = decode_bmp_pixels(blob)
                    if px is None:
                        px = decode_png_pixels(blob)
                    if px is not None:
                        feats[i] = bmp_features(px)
                        continue
                    wav = decode_wav_samples(blob)
                    if wav is not None:
                        feats[i] = wav_features(*wav)
                        continue
                    raise NotImplementedError(
                        "real feature extraction beyond BMP/PNG pixels and "
                        "PCM WAV samples needs a codec library (JPEG "
                        "entropy-decode/DCT, video demux — libjpeg/ffmpeg, "
                        "absent here); malformed/truncated blobs of the "
                        "supported formats also land here"
                    )
                b = np.frombuffer(blob[:4096], dtype=np.uint8)
                pad = (-b.size) % FEATURE_DIM
                m = np.pad(b, (0, pad)).reshape(-1, FEATURE_DIM).astype(np.float64)
                feats[i] = m.mean(axis=0) / 255.0
            yield pd.DataFrame(
                {"url": pdf["url"], "feature": list(feats)}
            )

    return df.select("url", F.col("media")).mapInPandas(fn, _FEATURE_SCHEMA)


def frame_sample(df: DataFrame, every_n_bytes: int = 65536) -> DataFrame:
    """Video-frame-sampling stub: one row per sampled 'frame' (fan-out).

    A real implementation would demux + decode (ffmpeg); the stub samples
    byte offsets, preserving the one-to-many row shape downstream
    operators rely on.
    """
    # ceil(len / n) via (len-1)/n + 1, guarded for len == 0 (one empty
    # frame row keeps the fan-out shape): the old floor(len/n)+1 emitted a
    # past-the-end frame with an empty header for exact-multiple lengths.
    # NULL media emits NO rows (greatest() skips NULLs, so without the
    # explicit filter a NULL row would leak through as a phantom frame)
    n_frames = (
        F.greatest(F.length("media") - 1, F.lit(0)) / F.lit(every_n_bytes)
    ).cast("int") + 1
    return (
        df.filter(F.col("media").isNotNull())
        .select("url", "media", F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"))
        .select(
            "url",
            "frame_idx",
            (F.col("frame_idx") * every_n_bytes).alias("byte_offset"),
            F.substring(
                F.col("media"), F.col("frame_idx") * every_n_bytes + 1, 16
            ).alias("frame_header"),
        )
    )
