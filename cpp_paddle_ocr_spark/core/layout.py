"""Layout/table stage — transplant of the reference "structure" module
(SURVEY.md §2.7, T1-T4), the library surface round 2 left untransplanted.

Pure core, no Spark imports. The 2-D image operators map onto the graft's
1-D char-offset domain exactly like the det→cls→rec cascade did:

* T1 ``TablePostProcessor::Run`` (``src/postprocess_op.cpp:364-452``) →
  ``decode_table``: decode a ``<table>`` region into a structure-tag
  sequence + cell spans. The transplant keeps the decode mechanics
  faithfully: a begin token is skipped, decoding stops at the end token
  (``:415-420``), per-step max-scores are averaged into the table score
  (``:422-424, :444``), a cell box is emitted only for the cell-open labels
  ``{"<td>", "<td", "<td></td>"}`` (``:427-441``), and a NaN score or zero
  cells yields score −1 (``:445-447``). ``merge_no_span_structure``
  (``init``, ``:364-380``) replaces the bare ``<td>`` label with the merged
  ``<td></td>`` label. Documented deviation: the reference rescales the
  model's NORMALIZED loc_preds by the region size with C-style ``int()``
  truncation (``:433-437``); our cell offsets are exact tag positions, so
  they are emitted directly rather than pushed through a lossy
  normalize/denormalize roundtrip.
* T2 ``TableResizeImg``/``TablePadImg`` (``src/preprocess_op.cpp:139-159``,
  max_len 488) → ``table_resize_pad``: ratio-preserving downsample of the
  region's char-class codes to ``TABLE_MAX_LEN``, zero-padded right.
* T3 ``PicodetPostProcessor`` (``src/postprocess_op.cpp:454-557``) →
  ``detect_regions``: multi-scale page-region detection over a fixed-length
  char canvas. Per FPN stride, each feature cell takes an argmax over class
  scores (``:484-491``), cells past ``score_threshold=0.4`` decode a span
  via the softmax-EXPECTATION distance trick of ``disPred2Bbox``
  (``:527-557``: softmax over ``reg_max`` discrete distance bins, expected
  value × stride, clamped to the canvas), then per-class greedy NMS at 0.5
  (``nms``, ``:559-588``) and rescale back to source coords (``:510-517``).
  Thresholds/defaults: ``include/paddle_ocr/postprocess_op.h:104,125``.

The "model" outputs are deterministic weights-as-code stand-ins in the
house style (see ``weights.py``): structure tokens come from a real tag
scan (what the trained structure model is trained to reproduce), per-step
scores from a seeded hash, and region class scores from marker-tag coverage
features — everything regenerates byte-identically in any process.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache

import numpy as np

from .activations import softmax_1d

# ---------------------------------------------------------------------------
# T1/T2 — table structure decode
# ---------------------------------------------------------------------------

#: ``max_len`` of TableResizeImg (include/paddle_ocr/preprocess_op.h:61-65).
TABLE_MAX_LEN = 488

#: Decode step cap — the structure model's fixed sequence length
#: (structure_probs_shape[1] analog).
TABLE_MAX_STEPS = 500

TABLE_BEG = "sos"  # TablePostProcessor::beg
TABLE_END = "eos"  # TablePostProcessor::end

#: Structure label list AFTER merge_no_span_structure: the bare "<td>" label
#: is erased and the merged "<td></td>" appended (src/postprocess_op.cpp:
#: 368-380); "<td" (attribute-bearing open, e.g. colspan) stays its own
#: label. beg/end are added at the ends exactly like init (:381-383).
TABLE_LABELS = [
    TABLE_BEG,
    "<thead>",
    "</thead>",
    "<tbody>",
    "</tbody>",
    "<tr>",
    "</tr>",
    "<td",
    "</td>",
    "<td></td>",
    TABLE_END,
]

#: Cell-open labels that emit a box (src/postprocess_op.cpp:427-428).
_CELL_OPEN = {"<td>", "<td", "<td></td>"}

_TABLE_TOKEN_RE = re.compile(
    r"</?(?:thead|tbody|tr|td)\b[^>]*>|</?table\b[^>]*>", re.IGNORECASE
)
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")

_SCORE_PRIME = np.uint64(2246822519)


def _step_scores(token_ids: np.ndarray) -> np.ndarray:
    """Deterministic per-step max-prob stand-in in [0.85, 1.0) — same
    discipline as ``weights.rec_timestep_probs``: the trained model's
    per-step confidence, regenerated from a seeded hash."""
    steps = np.arange(token_ids.size, dtype=np.uint64)
    h = ((token_ids.astype(np.uint64) + np.uint64(1)) * _SCORE_PRIME + steps * np.uint64(97)) % np.uint64(1000)
    return 0.85 + 0.15 * (h.astype(np.float64) / 1000.0)


def table_resize_pad(codes: np.ndarray) -> np.ndarray:
    """T2: ratio-preserving downsample to ``TABLE_MAX_LEN`` + zero-pad right.

    ``TableResizeImg`` scales the longer side to 488 preserving ratio and
    ``TablePadImg`` zero-pads to the square canvas
    (``src/preprocess_op.cpp:139-159``); in 1-D: longer inputs are
    stride-sampled down to ``TABLE_MAX_LEN``, shorter ones keep their values and
    the tail is zero (the pad).

    Standalone preprocessing facility (unit-tested, not consumed by
    ``decode_table``): the reference feeds the resized canvas to the
    structure MODEL; our decode reads exact tag offsets instead, so the
    canvas has no downstream consumer — kept as the T2 operator surface,
    not wired into a fake model input."""
    out = np.zeros(TABLE_MAX_LEN, dtype=codes.dtype)
    n = codes.size
    if n == 0:
        return out
    if n <= TABLE_MAX_LEN:
        out[:n] = codes
        return out
    idx = np.floor(np.arange(TABLE_MAX_LEN, dtype=np.float64) * (n / TABLE_MAX_LEN)).astype(np.int64)
    return codes[idx]


_TABLE_BOUND_RE = re.compile(r"<table\b|</table\b[^>]*>", re.IGNORECASE)


def find_table_regions(doc: str) -> list[tuple[int, int]]:
    """Outermost ``<table``…``</table>`` regions as (start, end) char
    offsets; an unclosed table runs to the end of the document (the decode
    loop then exhausts its steps without ever seeing the end token —
    exactly how the reference behaves when the model never emits ``eos``).

    Matching runs case-insensitively on ``doc`` itself — NEVER on
    ``doc.lower()``: ``str.lower`` is not length-stable (U+0130 'İ' lowers
    to two chars), so offsets computed on a lowered copy would misalign on
    any page containing such characters. The close pattern is the same
    attribute-tolerant one the tokenizer uses, so region bounds and the
    decode's end token can never desynchronize."""
    regions: list[tuple[int, int]] = []
    depth = 0
    start = -1
    for m in _TABLE_BOUND_RE.finditer(doc):
        if m.group(0)[1] != "/":
            if depth == 0:
                start = m.start()
            depth += 1
        elif depth > 0:
            depth -= 1
            if depth == 0:
                regions.append((start, m.end()))
    if depth > 0 and start >= 0:
        regions.append((start, len(doc)))
    return regions


@dataclass
class TableCell:
    cell_id: int
    start: int  # absolute doc offset
    end: int
    text: str


@dataclass
class TableStructure:
    table_id: int
    start: int
    end: int
    structure: str  # decoded tag sequence, joined
    cells: list[TableCell]
    score: float


def _tokenize_table(doc: str, lo: int, hi: int) -> list[tuple[str, int, int]]:
    """The structure 'model output': (label, tag_start, tag_end) per step,
    terminated by the end token at ``</table>``. Attribute-less ``<td>``
    becomes the merged ``<td></td>`` label; attribute-bearing opens become
    ``<td``."""
    steps: list[tuple[str, int, int]] = []
    open_kinds: list[str] = []  # cell-open stack (handles nested tables)
    depth = 0  # nested-table depth: only the OUTER close is the end token
    for m in _TABLE_TOKEN_RE.finditer(doc, lo, hi):
        tag = m.group(0)
        tl = tag.lower()
        if tl.startswith("<table"):
            depth += 1  # the region's own open is depth 1 (the beg token)
            continue
        if tl.startswith("</table"):
            depth -= 1
            if depth > 0:
                continue  # a NESTED table's close is not the end token —
                # without this, everything after an inner table (trailing
                # outer cells, closing structure) would be silently dropped
            steps.append((TABLE_END, m.start(), m.end()))
            break
        if tl.startswith("<td"):
            label = "<td></td>" if tl == "<td>" else "<td"
            open_kinds.append(label)
        elif tl.startswith("</td"):
            # the merged "<td></td>" label subsumes its close: the merged
            # dict ERASES the bare open and pairs no close with it
            # (src/postprocess_op.cpp:368-380), so a close is a decode step
            # only for attribute-bearing "<td" opens
            if open_kinds and open_kinds.pop() == "<td></td>":
                continue
            label = "</td>"
        else:
            label = re.match(r"</?\w+", tl).group(0) + ">"
        steps.append((label, m.start(), m.end()))
    return steps


def decode_table(doc: str, lo: int, hi: int, table_id: int = 0) -> TableStructure:
    """T1: decode one table region (TablePostProcessor::Run mechanics)."""
    # the region's own "<table" open is the begin token: the tokenizer never
    # emits it, equivalent to the `html_tag == beg → continue` at :418-420
    inner = _tokenize_table(doc, lo, hi)

    token_ids = np.array(
        [TABLE_LABELS.index(lbl) if lbl in TABLE_LABELS else 0 for lbl, _, _ in inner],
        dtype=np.int64,
    )
    probs = _step_scores(token_ids)

    tags: list[str] = []
    cells: list[TableCell] = []
    score = 0.0
    count = 0
    for step_idx, (label, t_start, t_end) in enumerate(inner[:TABLE_MAX_STEPS]):
        if step_idx > 0 and label == TABLE_END:
            break  # :415-417 (step_idx > 0 guard kept verbatim)
        if label == TABLE_BEG or label == TABLE_END:
            continue  # :418-420
        count += 1
        score += float(probs[step_idx])
        tags.append(label)
        if label in _CELL_OPEN:
            # box: cell content from after the open tag to the matching
            # close (or the next structural tag when unclosed). The
            # reference rescales the model's NORMALIZED loc_preds by the
            # region size with int() truncation (:427-441); our offsets are
            # already exact, so they are emitted directly — replaying the
            # normalize/denormalize roundtrip here only injects float
            # truncation error (it silently clipped the last char of some
            # cells before round 3's review pass).
            nxt = _TABLE_TOKEN_RE.search(doc, t_end, hi)
            c_end = nxt.start() if nxt else hi
            a_start = t_end
            a_end = c_end
            text = _WS_RE.sub(" ", _TAG_RE.sub(" ", doc[a_start:a_end])).strip()
            cells.append(TableCell(len(cells), a_start, a_end, text))
    score = score / count if count else float("nan")
    if np.isnan(score) or len(cells) == 0:
        score = -1.0  # :445-447
    return TableStructure(table_id, lo, hi, "".join(tags), cells, round(score, 6))


def extract_tables_page(doc: str) -> list[TableStructure]:
    """All tables of a page, outermost regions only, document order."""
    return [
        decode_table(doc, lo, hi, table_id=i)
        for i, (lo, hi) in enumerate(find_table_regions(doc))
    ]


# ---------------------------------------------------------------------------
# T3 — Picodet-style page-region detector
# ---------------------------------------------------------------------------

#: Region classes — the layout labels of the PP-Structure picodet model
#: (text regions are the background class and emit no box).
LAYOUT_LABELS = ["header", "nav", "table", "figure", "footer"]

#: 1-D analog of the fixed resize canvas (Picodet resizes the page image to
#: a fixed input; we resize the char stream to this length).
LAYOUT_CANVAS = 2048

#: FPN strides over the canvas (fpn_stride analog, fine→coarse). With
#: REG_MAX distance bins, a level decodes regions up to ~(REG_MAX-1)·stride
#: around a cell center — 16 covers small footers/headers, 256 covers
#: page-scale regions of the full canvas.
FPN_STRIDES = [16, 64, 256]

#: Distance-bin count of the softmax-expectation decode (reg_max).
REG_MAX = 8

#: Defaults from include/paddle_ocr/postprocess_op.h:104,125.
LAYOUT_SCORE_THRESH = 0.4
LAYOUT_NMS_THRESH = 0.5

_REGION_TAG_RE = {
    "header": re.compile(r"<header\b[^>]*>.*?</header\s*>", re.IGNORECASE | re.DOTALL),
    "nav": re.compile(r"<nav\b[^>]*>.*?</nav\s*>", re.IGNORECASE | re.DOTALL),
    "table": re.compile(r"<table\b[^>]*>.*?</table\s*>", re.IGNORECASE | re.DOTALL),
    "figure": re.compile(r"<figure\b[^>]*>.*?</figure\s*>|<img\b[^>]*>", re.IGNORECASE | re.DOTALL),
    "footer": re.compile(r"<footer\b[^>]*>.*?</footer\s*>", re.IGNORECASE | re.DOTALL),
}


@dataclass
class RegionBox:
    label: str
    start: int  # absolute doc offsets
    end: int
    score: float


def _marker_coverage(doc: str, canvas_len: int, scale: float) -> np.ndarray:
    """(n_class, canvas_len) uint8 coverage masks of the marker regions,
    scaled from doc to canvas coords — the 'feature map' the stand-in class
    scores are computed from."""
    cov = np.zeros((len(LAYOUT_LABELS), canvas_len), dtype=np.uint8)
    for ci, label in enumerate(LAYOUT_LABELS):
        for m in _REGION_TAG_RE[label].finditer(doc):
            a = int(m.start() * scale)
            b = min(canvas_len, int(m.end() * scale) + 1)
            if b > a:
                cov[ci, a:b] = 1
    return cov


@lru_cache(maxsize=None)
def _softmax_expectation(bin_idx: int) -> float:
    """disPred2Bbox's distance decode (:538-547): softmax over reg_max
    discrete logits, expectation Σ j·p[j]. The stand-in logits peak at the
    encoded bin with slope −2 — reproducing the decode's quantization
    behavior (the expectation is pulled slightly toward the center bins).
    The softmax is the reference's fast_exp variant — Picodet is the live
    consumer of ``activation_function_softmax`` (``src/utility.cpp:
    359-376``), so this path is bit-faithful rather than exact-exp.

    lru_cache: a pure function of ``bin_idx`` ∈ [0, REG_MAX) — the
    per-emitted-cell recompute was 24% of the layout kernel in the round-6
    profile; the cached value is the identical float."""
    j = np.arange(REG_MAX, dtype=np.float64)
    logits = -2.0 * np.abs(j - bin_idx)
    p = softmax_1d(logits, mode="fast_exp")
    return float((j * p).sum())


def _nms_1d(boxes: list[RegionBox], thresh: float) -> list[RegionBox]:
    """Greedy per-class NMS (PicodetPostProcessor::nms, :559-588): sort by
    confidence desc, suppress overlaps with IoU > thresh."""
    order = sorted(boxes, key=lambda b: -b.score)
    picked = [True] * len(order)
    for i in range(len(order)):
        if not picked[i]:
            continue
        for j in range(i + 1, len(order)):
            if not picked[j]:
                continue
            inter = max(
                0, min(order[i].end, order[j].end) - max(order[i].start, order[j].start)
            )
            union = (
                (order[i].end - order[i].start)
                + (order[j].end - order[j].start)
                - inter
            )
            if union > 0 and inter / union > thresh:
                picked[j] = False
    return [b for i, b in enumerate(order) if picked[i]]


def detect_regions_page(doc: str) -> list[RegionBox]:
    """T3: multi-scale region detection over one page (Picodet Run)."""
    doc_len = len(doc)
    if doc_len == 0:
        return []
    canvas_len = min(doc_len, LAYOUT_CANVAS)
    scale = canvas_len / doc_len  # scale_factor analog (:471-473)
    cov = _marker_coverage(doc, canvas_len, scale)

    # Coverage-run boundaries per class, computed once per page: the
    # per-cell `while row[...]` scans re-walked the same runs char by char
    # (2.9M Python steps / 300 pages in the round-6 profile — 80% of the
    # layout kernel). searchsorted over these arrays returns the identical
    # (run_start, run_end) for any anchor inside a run.
    run_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def runs_of(ci: int) -> tuple[np.ndarray, np.ndarray]:
        r = run_cache.get(ci)
        if r is None:
            d = np.diff(np.concatenate(([0], cov[ci], [0])).astype(np.int8))
            run_cache[ci] = r = (
                np.nonzero(d == 1)[0],
                np.nonzero(d == -1)[0] - 1,  # inclusive last covered index
            )
        return r

    per_class: list[list[RegionBox]] = [[] for _ in LAYOUT_LABELS]
    for stride in FPN_STRIDES:
        n_cells = -(-canvas_len // stride)  # ceil, :478-479
        edges = np.arange(n_cells, dtype=np.int64) * stride
        # per-cell per-class score = coverage fraction inside the window
        # (np.add.reduceat, not cumsum — CLAUDE.md numpy gotcha #4)
        sums = np.add.reduceat(cov, edges, axis=1, dtype=np.int32)
        widths = np.minimum(edges + stride, canvas_len) - edges
        scores = sums / widths  # (n_class, n_cells) float64
        labels = scores.argmax(axis=0)  # per-cell argmax over classes
        best = scores.max(axis=0)
        for idx in np.nonzero(best > LAYOUT_SCORE_THRESH)[0]:
            ci = int(labels[idx])
            score = float(best[idx])
            ct = (idx + 0.5) * stride  # cell center (:528-529)
            # ground-truth distances to the covering marker region, encoded
            # to reg_max bins then decoded via softmax expectation — the
            # model's discretized distance head, stand-in included. Cells
            # whose CENTER is outside the region stay silent (the trained
            # model's center-ness prior — edge cells score low).
            row = cov[ci]
            anchor = min(int(ct), canvas_len - 1)
            if not row[anchor]:
                continue
            starts, ends = runs_of(ci)
            k = int(np.searchsorted(starts, anchor, side="right")) - 1
            run_start = int(starts[k])
            run_end = int(ends[k])
            # FPN scale assignment: a region belongs to the FINEST level
            # whose distance head can span it ((REG_MAX-1)·stride); other
            # levels' heads would clip the distance and emit partial boxes,
            # which the trained model learns not to score — our stand-in
            # gates them explicitly.
            width = run_end + 1 - run_start
            ideal = next(
                (s for s in FPN_STRIDES if width <= (REG_MAX - 1) * s),
                FPN_STRIDES[-1],
            )
            if stride != ideal:
                continue
            bin_l = min(REG_MAX - 1, max(0, round((ct - run_start) / stride)))
            bin_r = min(REG_MAX - 1, max(0, round((run_end + 1 - ct) / stride)))
            dis_l = _softmax_expectation(bin_l) * stride  # :546-548
            dis_r = _softmax_expectation(bin_r) * stride
            xmin = max(ct - dis_l, 0.0)  # clamp, :550-553
            xmax = min(ct + dis_r, float(canvas_len))
            per_class[ci].append(
                RegionBox(LAYOUT_LABELS[ci], int(xmin), int(xmax), round(score, 6))
            )

    results: list[RegionBox] = []
    for ci, boxes in enumerate(per_class):
        if not boxes:
            continue  # :510-513
        kept = _nms_1d(boxes, LAYOUT_NMS_THRESH)
        for b in kept:  # rescale to source coords (:515-521), clamped
            end = min(int(b.end / scale), doc_len)
            start = min(int(b.start / scale), end)
            results.append(RegionBox(b.label, start, end, b.score))
    results.sort(key=lambda b: (b.start, b.end, b.label))
    return results
