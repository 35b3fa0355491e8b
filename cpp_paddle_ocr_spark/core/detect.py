"""Stage 1 — det: candidate-span detection over parsed blocks.

Faithful 1-D transplant of the reference's DB detection post-process chain
(SURVEY.md §2.2):

* per-token content score = the "probability map" (D4, ``src/ocr_det.cpp:116-133``),
  a vectorized sigmoid over normalized token features (D2 ``Normalize``,
  ``src/preprocess_op.cpp:40-55``) — one float64 matmul per page;
* bitmap = ``score >= DET_DB_THRESH`` (D5, ``src/ocr_det.cpp:140-154``);
* candidate spans = maximal runs of above-threshold tokens inside one block —
  the connected-component / ``findContours`` analog (D7,
  ``src/postprocess_op.cpp:255-331``), emitted in document order;
* drop spans shorter than 3 chars pre-unclip (D8 ``ssid < 3``,
  ``src/postprocess_op.cpp:287-289``);
* span score = mean token score over the span ("fast" bbox-mask mode D9,
  ``src/postprocess_op.cpp:216-253``, selected at ``src/ocr_worker.cpp:32``);
* drop spans with ``score < DET_BOX_THRESH`` (D11, ``src/postprocess_op.cpp:298-299``);
* unclip: widen by ``UNCLIP_TOKENS`` tokens each side, expanding into
  background tokens only — clamped at neighboring qualifying runs and block
  bounds (D12, ``src/postprocess_op.cpp:20-72`` with ratio 1.8);
* clamp + drop spans shorter than 5 chars post-unclip (D14,
  ``src/postprocess_op.cpp:333-362``);
* NMS: greedy best-first suppression at IoU > 0.5 (O3,
  ``src/postprocess_op.cpp:559-588`` — lib-only in the reference, promoted to
  live per the north rule). Spans are constructed disjoint, so the sorted
  no-overlap fast path exits in O(n log n) on real pages;
* per-page span cap ``MAX_CANDIDATES`` (O5, ``src/postprocess_op.cpp:260``).

All numeric work is vectorized at PAGE level (one feature matrix and one
matmul per page), mirroring the reference's one-model-pass-per-image shape.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..config import (
    DET_BOX_THRESH,
    DET_DB_THRESH,
    DET_SCORE_MODE,
    DET_USE_DILATION,
    MAX_CANDIDATES,
    MIN_SPAN_CHARS,
    MIN_SPAN_CHARS_PRE,
    NMS_IOU_THRESH,
    UNCLIP_TOKENS,
)
from ..weights import DET_B, DET_MEAN, DET_SCALE, DET_W, STOPWORDS
from .html_parse import Block

# Stopword membership, vectorized: every stopword is ≤ _STOP_MAXLEN chars of
# pure a-z, so a token can be packed into an int64 (5 bits per char) and
# matched with one sorted np.isin — no per-token Python in the det kernel.
_STOP_MAXLEN = max(len(w) for w in STOPWORDS)
assert all(len(w) <= 12 and w.isascii() and w.islower() and w.isalpha() for w in STOPWORDS)


def _pack_word(w: str) -> int:
    v = 0
    for ch in w:
        v = (v << 5) | (ord(ch) - 96)  # a=1 .. z=26
    return v


_STOPWORDS_PACKED = np.sort(
    np.fromiter((_pack_word(w) for w in STOPWORDS), np.int64, len(STOPWORDS))
)

# Whitespace lookup table (fixed set → deterministic tokenization everywhere):
# ASCII \t..\r, space, NBSP, U+1680, U+2000-200B, U+2028/29/2F, U+205F, U+3000.
# Sized to the FULL codepoint domain (1.1 MB of bools, CLAUDE.md #4c): every
# codepoint above U+3000 is never whitespace → those entries are simply
# False, and the gather needs no clamping `where` (which allocated two
# temporaries per call and measured ~2x slower on multi-MB pages).
_WS_TABLE = np.zeros(0x110000, dtype=bool)
_WS_TABLE[[9, 10, 11, 12, 13, 32, 160, 0x1680, 0x2028, 0x2029, 0x202F, 0x205F, 0x3000]] = True
_WS_TABLE[0x2000 : 0x200C] = True

# Per-codepoint char class for the det features, one uint8 gather replacing
# the ~11 uint32 comparison/boolean passes that built the ws/upper/letter/
# digit/punct masks separately (same #4c full-domain-table pattern; uint8
# reads make the 6 derived compares ~4x lighter than the uint32 chain).
# Codes: 0 other, 1 ws, 2 upper, 3 lower, 4 digit, 5 ascii-punct (= any
# cp < 128 that is not a letter, digit or whitespace — controls included,
# exactly the old `(cp < 128) & ~letter & ~digit & ~ws` definition).
_CLS_OTHER, _CLS_WS, _CLS_UPPER, _CLS_LOWER, _CLS_DIGIT, _CLS_PUNCT = range(6)
_CLS_TABLE = np.zeros(0x110000, dtype=np.uint8)
_CLS_TABLE[:128] = _CLS_PUNCT
_CLS_TABLE[65:91] = _CLS_UPPER
_CLS_TABLE[97:123] = _CLS_LOWER
_CLS_TABLE[48:58] = _CLS_DIGIT
_CLS_TABLE[_WS_TABLE] = _CLS_WS
if not np.array_equal(_CLS_TABLE == _CLS_WS, _WS_TABLE):
    # detect_page reads whitespace as `cls == _CLS_WS`; an explicit raise
    # (not an assert) keeps the check under python -O
    raise RuntimeError("_CLS_TABLE whitespace class disagrees with _WS_TABLE")


@dataclass(slots=True)
class Span:
    """A detected candidate span (the quad-box analog, SURVEY.md §1.3)."""

    block_id: int
    start: int  # char offset into the decoded document
    end: int
    text: str  # raw slice of the block text (entities still encoded)
    score: float  # det score (mean token prob)


def codepoints(text: str) -> np.ndarray:
    """Text → uint32 codepoint array (the raster of the 1-D 'image')."""
    if not text:
        return np.empty(0, dtype=np.uint32)
    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)


def ws_mask(cp: np.ndarray) -> np.ndarray:
    return _WS_TABLE[cp]


def _token_runs(mask_nonws: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Maximal runs of True → (starts, ends), vectorized."""
    if mask_nonws.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    padded = np.concatenate(([False], mask_nonws, [False]))
    d = np.diff(padded.astype(np.int8))
    return np.where(d == 1)[0], np.where(d == -1)[0]


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def score_tokens(feats: np.ndarray) -> np.ndarray:
    """The det model forward (D4): normalized features → token prob map."""
    norm = (feats - DET_MEAN) * DET_SCALE
    return _sigmoid(norm @ DET_W + DET_B)


def iou_1d(s1: int, e1: int, s2: int, e2: int) -> float:
    """1-D IoU of two char spans (O2, ``src/utility.cpp:378-424``)."""
    inter = max(0, min(e1, e2) - max(s1, s2))
    union = (e1 - s1) + (e2 - s2) - inter
    return inter / union if union > 0 else 0.0


def nms(spans: list[Span]) -> list[Span]:
    """Greedy best-first NMS (O3, ``src/postprocess_op.cpp:559-588``).

    Fast path: if no pair overlaps at all (the common case — spans are built
    disjoint), return unchanged after one sorted sweep. Otherwise run the
    exact greedy suppression with a vectorized inner loop.
    """
    n = len(spans)
    if n <= 1:
        return spans
    starts = np.fromiter((s.start for s in spans), np.int64, n)
    ends = np.fromiter((s.end for s in spans), np.int64, n)
    by_start = np.argsort(starts, kind="stable")
    if np.all(starts[by_start][1:] >= ends[by_start][:-1]):
        return spans  # disjoint — nothing to suppress
    scores = np.fromiter((s.score for s in spans), np.float64, n)
    # sort by score desc, stable (ties keep emission order)
    order = np.lexsort((np.arange(n), -scores))
    alive = np.ones(n, dtype=bool)
    lengths = ends - starts
    for i in order:
        if not alive[i]:
            continue
        inter = np.clip(
            np.minimum(ends, ends[i]) - np.maximum(starts, starts[i]), 0, None
        )
        union = lengths + lengths[i] - inter
        iou = np.where(union > 0, inter / np.maximum(union, 1), 0.0)
        kill = alive & (iou > NMS_IOU_THRESH)
        kill[i] = False
        # only suppress strictly-lower-priority spans
        lower = np.zeros(n, dtype=bool)
        lower[order[np.where(order == i)[0][0] + 1 :]] = True
        alive &= ~(kill & lower)
    return [s for s, a in zip(spans, alive) if a]


class _PageMeta:
    """Segment/block metadata for a concatenated page — O(#segments) memory
    instead of the per-CHAR offset/link/hint/block arrays an earlier design
    materialized (10 bytes per char; the extraction kernel is memory-
    bandwidth-bound at high core counts, so aux bytes/char matter).

    ``doc_off``/``block/link`` queries answer from tiny per-segment arrays
    via ``searchsorted``, vectorized over span/token boundaries (hundreds per
    page) rather than chars (millions).
    """

    __slots__ = (
        "seg_pstart",
        "seg_dstart",
        "link_prefix",
        "blk_pstart",
        "blk_ids",
        "blk_hint",
    )

    def __init__(
        self,
        seg_pstart: np.ndarray,
        seg_dstart: np.ndarray,
        link_prefix: np.ndarray,
        blk_pstart: np.ndarray,
        blk_ids: np.ndarray,
        blk_hint: np.ndarray,
    ) -> None:
        self.seg_pstart = seg_pstart
        self.seg_dstart = seg_dstart
        self.link_prefix = link_prefix
        self.blk_pstart = blk_pstart
        self.blk_ids = blk_ids
        self.blk_hint = blk_hint

    def doc_off(self, x: np.ndarray) -> np.ndarray:
        """Page offsets (must lie inside segments) → doc offsets."""
        j = np.searchsorted(self.seg_pstart, x, side="right") - 1
        return self.seg_dstart[j] + (x - self.seg_pstart[j])

    def block_index(self, x: np.ndarray) -> np.ndarray:
        """Page offsets (token starts) → index into blk_ids/blk_hint."""
        return np.searchsorted(self.blk_pstart, x, side="right") - 1

    def overlaps_link(self, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
        """True where token [s, e) touches any <a>-segment (feature 6).

        Every segment index between the one containing s and the one
        containing e-1 intersects the token, so a prefix count of link
        segments answers in O(log #segments) per token.
        """
        j0 = np.searchsorted(self.seg_pstart, starts, side="right") - 1
        j1 = np.searchsorted(self.seg_pstart, ends - 1, side="right") - 1
        return (self.link_prefix[j1 + 1] - self.link_prefix[j0]) > 0


def _page_arrays(doc: str, blocks: list[Block]) -> tuple[str, _PageMeta]:
    """Concatenate all block texts into one page string + segment metadata.

    Blocks are separated by a single '\\n' marker char (belonging to no
    segment/block) so token runs can never cross a block boundary.
    """
    texts: list[str] = []
    seg_pstart: list[int] = []
    seg_dstart: list[int] = []
    seg_link: list[bool] = []
    blk_pstart: list[int] = []
    blk_ids: list[int] = []
    blk_hint: list[bool] = []
    # method lookups hoisted out of the per-segment loop (segment counts run
    # to tens of thousands on block-heavy pages)
    t_app = texts.append
    sp_app = seg_pstart.append
    sd_app = seg_dstart.append
    sl_app = seg_link.append
    pos = 0
    for bi, block in enumerate(blocks):
        if bi > 0:
            t_app("\n")
            pos += 1
        blk_pstart.append(pos)
        blk_ids.append(block.block_id)
        blk_hint.append(bool(block.hint))
        for (s, e), lk in zip(block.segments, block.seg_link):
            t_app(doc[s:e])
            sp_app(pos)
            sd_app(s)
            sl_app(bool(lk))
            pos += e - s
    link_prefix = np.concatenate(
        ([0], np.cumsum(np.asarray(seg_link, dtype=np.int32)))
    )
    meta = _PageMeta(
        np.asarray(seg_pstart, dtype=np.int64),
        np.asarray(seg_dstart, dtype=np.int64),
        link_prefix,
        np.asarray(blk_pstart, dtype=np.int64),
        np.asarray(blk_ids, dtype=np.int32),
        np.asarray(blk_hint, dtype=bool),
    )
    return "".join(texts), meta


def detect_page(
    doc: str,
    blocks: list[Block],
    score_mode: str = DET_SCORE_MODE,
    use_dilation: bool = DET_USE_DILATION,
) -> list[Span]:
    """Run the full det chain on one parsed page → candidate spans.

    ``score_mode``: "fast" = mean token prob (D9, the live config); "slow" =
    char-length-weighted mean (D10 ``PolygonScoreAcc`` analog — the exact
    integral over the span instead of the bbox-mask approximation).

    ``use_dilation``: D6 parity knob (``src/ocr_det.cpp:155-159``; OFF in
    the live config, ``src/ocr_worker.cpp:33``): dilate the thresholded
    bitmap by one token before run extraction — near-adjacent runs separated
    by a single below-threshold token merge. The probability map itself is
    untouched (the reference dilates ``bit_map`` only, never ``pred_map``),
    so scores still average the true per-token probs of the widened run.
    """
    page, meta = _page_arrays(doc, blocks)
    cp = codepoints(page)
    if cp.size == 0:
        return []
    cls = _CLS_TABLE[cp]
    ws = cls == _CLS_WS  # == ws_mask(cp), asserted at import
    tstarts, tends = _token_runs(~ws)
    n = tstarts.size
    if n == 0:
        return []

    # --- per-token features, one vectorized pass per page (D2/D3/D4) -------
    # The kernel is memory-bound at high core counts, so per-char byte
    # traffic is minimized: per-token sums come from np.add.reduceat over
    # interleaved token boundaries (never materializing cumsum arrays), and
    # `alpha` is derived arithmetically — token chars are all non-ws, so
    # alpha = len - digit - punct by the class definitions. The five class
    # masks derive from ONE uint8 table gather (byte-identical to the old
    # uint32 comparison chain — each code reproduces its old predicate).
    upper = cls == _CLS_UPPER
    letter = upper | (cls == _CLS_LOWER)
    digit = cls == _CLS_DIGIT
    punct = cls == _CLS_PUNCT

    ridx = np.empty(2 * n, dtype=np.int64)
    ridx[0::2] = tstarts
    ridx[1::2] = tends
    if ridx[-1] == cp.size:  # reduceat indices must be < len; the final
        ridx = ridx[:-1]  # segment then runs to the end = the last token

    def seg_sum(ind: np.ndarray) -> np.ndarray:
        # dtype=int32 is load-bearing: without it reduceat/accumulate on
        # bool input takes a buffered-cast loop measuring 3-30x slower
        return np.add.reduceat(ind, ridx, dtype=np.int32)[0::2].astype(
            np.float64
        )

    tok_len = (tends - tstarts).astype(np.float64)
    dsum = seg_sum(digit)
    psum = seg_sum(punct)
    feats = np.empty((n, 8), dtype=np.float64)
    feats[:, 0] = np.minimum(tok_len, 20.0) / 20.0
    feats[:, 1] = (tok_len - dsum - psum) / tok_len  # alpha
    feats[:, 2] = dsum / tok_len
    feats[:, 3] = psum / tok_len
    # stopword flag, fully vectorized (semantically identical to
    # `page[s:e].lower() in STOPWORDS`): only tokens of ≤ _STOP_MAXLEN pure
    # case-folded a-z chars can match, and those pack into one int64 each.
    # The pack loop runs over the ELIGIBLE tokens only (compressed via
    # nonzero — ineligible packed values were always discarded by the
    # `eligible &` mask below), which also licenses two simplifications:
    # eligible chars are pure A-Za-z, so casefold is `| 32` (no range test)
    # and the 5-bit field is 1..26 by construction (no clip). Chars gathered
    # past a token's end can be anything (clamped index) — their garbage
    # contribution is discarded by the has_k `where`, exactly as before.
    eligible = (tok_len <= _STOP_MAXLEN) & (seg_sum(letter) == tok_len)
    feats[:, 4] = 0.0
    el = np.nonzero(eligible)[0]
    if el.size:
        ts_el = tstarts[el]
        len_el = (tends[el] - ts_el).astype(np.int64)
        packed = np.zeros(el.size, dtype=np.int64)
        last = cp.size - 1
        for k in range(int(len_el.max())):
            has_k = len_el > k
            ck = (cp[np.minimum(ts_el + k, last)] | 32).astype(np.int64) - 96
            packed = np.where(has_k, (packed << 5) | ck, packed)
        # membership via searchsorted on the sorted packed table — identical
        # to np.isin (whose in1d path re-sorts both sides per call; measured
        # ~4% of kernel time across det+cls in the round-6 profile)
        j = np.minimum(
            _STOPWORDS_PACKED.searchsorted(packed), _STOPWORDS_PACKED.size - 1
        )
        feats[el[_STOPWORDS_PACKED[j] == packed], 4] = 1.0
    feats[:, 5] = seg_sum(upper) / tok_len
    # link/hint from per-segment/per-block metadata (tokens never cross a
    # block, so the hint flag is the block's; link = any <a>-segment overlap)
    tok_bidx = meta.block_index(tstarts)
    feats[:, 6] = meta.overlaps_link(tstarts, tends)
    feats[:, 7] = meta.blk_hint[tok_bidx]
    probs = score_tokens(feats)

    # --- bitmap → runs (D5/D7); a block change also breaks a run -----------
    bitmap = probs >= DET_DB_THRESH
    tok_block = meta.blk_ids[tok_bidx]
    if use_dilation:  # D6: 2x2-kernel dilate analog — one-token widen,
        # masked to same-block neighbors: without the mask, block A's last
        # below-threshold token would light up whenever block B's first
        # token is lit, splicing an unrelated token into A's run (caught by
        # round 3's review pass)
        ext = bitmap[1:] & (tok_block[1:] == tok_block[:-1])
        bitmap = bitmap | np.concatenate((ext, [False]))
    new_run = bitmap & np.concatenate(
        ([True], (~bitmap[:-1]) | (tok_block[1:] != tok_block[:-1]))
    )
    end_run = bitmap & np.concatenate(
        ((~bitmap[1:]) | (tok_block[1:] != tok_block[:-1]), [True])
    )
    rstarts = np.where(new_run)[0]
    rends = np.where(end_run)[0] + 1

    # cumulative prob sums for O(1) run means (D9 fast / D10 slow modes)
    if score_mode == "slow":
        cprob = np.concatenate(([0.0], np.cumsum(probs * tok_len)))
        cw = np.concatenate(([0.0], np.cumsum(tok_len)))
    else:
        cprob = np.concatenate(([0.0], np.cumsum(probs)))
        cw = None

    # --- first pass: qualifying runs (D8 pre-size + D11 score filters),
    # fully vectorized (boilerplate-heavy pages have thousands of runs) ----
    run_cs = tstarts[rstarts]
    run_ce = tends[rends - 1]
    if cw is not None:  # D10: char-weighted exact integral
        rscore = (cprob[rends] - cprob[rstarts]) / (cw[rends] - cw[rstarts])
    else:  # D9: plain token mean (live config)
        rscore = (cprob[rends] - cprob[rstarts]) / (rends - rstarts)
    keep = (run_ce - run_cs >= MIN_SPAN_CHARS_PRE) & (rscore >= DET_BOX_THRESH)
    kidx = np.nonzero(keep)[0][:MAX_CANDIDATES]  # O5 cap, emission order
    runs: list[tuple[int, int, float]] = list(
        zip(rstarts[kidx].tolist(), rends[kidx].tolist(), rscore[kidx].tolist())
    )

    # block token bounds for unclip clamping
    blk_first = np.concatenate(([True], tok_block[1:] != tok_block[:-1]))
    blk_last = np.concatenate((tok_block[1:] != tok_block[:-1], [True]))
    idx = np.arange(n)
    blk_start_of = np.maximum.accumulate(
        np.where(blk_first, idx, 0)
    )  # first token index of each token's block
    blk_end_of = np.flip(
        np.minimum.accumulate(np.flip(np.where(blk_last, idx, n - 1)))
    )  # last token index of each token's block

    # --- second pass: D12 unclip into background only, D14 min-size --------
    # The clamp chain is sequential (prev_ue), but the page→doc offset
    # mapping is not: collect (block, cs, ce, score) in the loop and run
    # doc_off ONCE over the batch — the per-span scalar searchsorted pair
    # was ~7% of kernel time on span-heavy pages (round-6 profile: 60k
    # doc_off calls / 400 docs). Integer-exact, byte-identical output.
    kept: list[tuple[int, int, int, float]] = []
    prev_ue = -1
    prev_block = -1
    for k, (rs, re_, score) in enumerate(runs):
        b = int(tok_block[rs])
        lo = int(blk_start_of[rs])
        hi = int(blk_end_of[rs]) + 1
        left_clamp = prev_ue if prev_block == b else lo
        us = max(rs - UNCLIP_TOKENS, left_clamp, lo)
        if k + 1 < len(runs) and int(tok_block[runs[k + 1][0]]) == b:
            right_clamp = runs[k + 1][0]
        else:
            right_clamp = hi
        ue = min(re_ + UNCLIP_TOKENS, right_clamp, hi)
        prev_ue, prev_block = ue, b
        cs, ce = int(tstarts[us]), int(tends[ue - 1])
        if ce - cs < MIN_SPAN_CHARS:  # D14 post-unclip minimum
            continue
        kept.append((b, cs, ce, score))
    if not kept:
        return []
    cs_arr = np.fromiter((t[1] for t in kept), np.int64, len(kept))
    ce_arr = np.fromiter((t[2] for t in kept), np.int64, len(kept))
    starts = meta.doc_off(cs_arr)
    ends = meta.doc_off(ce_arr - 1) + 1
    spans = [
        Span(
            block_id=b,
            start=int(starts[k]),
            end=int(ends[k]),
            text=page[cs:ce],
            score=score,
        )
        for k, (b, cs, ce, score) in enumerate(kept)
    ]
    return nms(spans)
