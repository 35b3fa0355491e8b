"""Engine configuration constants.

Each constant mirrors a tuned parameter of the reference worker
(``src/ocr_worker.cpp:21-63`` configures det/cls/rec exactly once per worker);
we keep the same names/roles so parity is auditable.
"""

from __future__ import annotations

# --- det stage (reference: src/ocr_worker.cpp:27-35) -------------------------

#: Analog of ``limit_side_len=512`` (max-side resize cap, src/ocr_worker.cpp:28):
#: decoded documents longer than this many characters are truncated before
#: detection; offsets still index the *truncated* decoded text (the reference
#: likewise detects on the resized image and maps boxes back, D14).
MAX_DOC_CHARS = 262_144

#: ``det_db_thresh=0.2`` (src/ocr_worker.cpp:29): token-level score threshold
#: that forms the binary "bitmap" whose connected runs become candidate spans.
DET_DB_THRESH = 0.2

#: ``det_db_box_thresh=0.4`` (src/ocr_worker.cpp:30): candidate spans whose
#: mean token score is below this are dropped (D11).
DET_BOX_THRESH = 0.4

#: ``det_db_unclip_ratio=1.8`` (src/ocr_worker.cpp:31). 1-D unclip: a span is
#: expanded by ``UNCLIP_TOKENS = floor(1.8)`` tokens on each side, the analog
#: of offsetting a box by ``area*ratio/perimeter`` (~= line-height for text
#: lines, src/postprocess_op.cpp:20-72).
UNCLIP_RATIO = 1.8
UNCLIP_TOKENS = int(UNCLIP_RATIO)  # = 1

#: ``max_candidates=1000`` (src/postprocess_op.cpp:260): per-page cap on
#: candidate blocks/spans, in emission (parse) order.
MAX_CANDIDATES = 1000

#: Pre-unclip minimum: reference drops boxes with ``ssid < 3``
#: (src/postprocess_op.cpp:287-289). 1-D analog: span char length < 3.
MIN_SPAN_CHARS_PRE = 3

#: Post-unclip minimum: reference drops boxes with ``ssid < 5``
#: (src/postprocess_op.cpp:309-311) and FilterTagDetRes drops sides <= 4
#: (src/postprocess_op.cpp:333-362). 1-D analog: span char length < 5.
MIN_SPAN_CHARS = 5

#: Span score mode: "fast" = plain mean of token probs (BoxScoreFast D9,
#: the live config, ``src/ocr_worker.cpp:32``); "slow" = char-length-weighted
#: mean (the exact-polygon-area analog of PolygonScoreAcc D10,
#: ``src/postprocess_op.cpp:170-214`` — lib-only in the reference, provided
#: as the same parity knob).
DET_SCORE_MODE = "fast"

#: D6 dilation parity knob: the reference dilates the thresholded bitmap
#: with a 2x2 kernel when ``use_dilation_`` is set (``src/ocr_det.cpp:
#: 155-159``) but the live service config leaves it OFF
#: (``src/ocr_worker.cpp:33``) — same default here. In 1-D the 2x2 dilate
#: becomes a one-token dilation of the bitmap (a token lights up if its
#: successor is lit), which closes single-token gaps between adjacent runs
#: inside a block.
DET_USE_DILATION = False

#: NMS IoU threshold (reference default 0.5,
#: include/paddle_ocr/postprocess_op.h:104,125). Promoted from lib to live
#: per SURVEY.md §2.6 O3.
NMS_IOU_THRESH = 0.5

#: K6 softmax mode: "exact" (np.exp — the documented X7 deviation from the
#: reference's Schraudolph fast_exp bit-trick) or "fast_exp" (bit-faithful
#: parity knob, core/activations.py). The layout stage (T3 Picodet), the
#: only live fast_exp consumer in the reference, always uses fast_exp.
CLS_SOFTMAX_MODE = "exact"

# --- cls stage (reference: src/ocr_worker.cpp:38-49) -------------------------

#: Feature width, analog of cls input shape {3,48,192} (src/ocr_cls.cpp:35).
CLS_FEAT_W = 192

#: ``cls_batch_num=8`` (src/ocr_worker.cpp:47).
CLS_BATCH = 8

#: ``cls_thresh=0.98`` (src/ocr_worker.cpp:45). QUIRK preserved: the live
#: rotate path checks only ``label == 1`` and never consults this threshold
#: (src/ocr_worker.cpp:276-281); we replicate that (drop on label alone).
CLS_THRESH = 0.98

# --- rec stage (reference: src/ocr_worker.cpp:52-63) -------------------------

#: ``rec_batch_num=16`` (src/ocr_worker.cpp:60).
REC_BATCH = 16

#: Analog of rec input shape {3,28,192} dynamic width (src/ocr_worker.cpp:61-62):
#: per-batch pad width is the longest sequence in the batch (R2).
REC_MAX_W = 192  # informational; width is dynamic per batch

#: CTC blank symbol prepended to the dictionary (include/paddle_ocr/ocr_rec.h:82-84).
CTC_BLANK = 0

# --- transport / size guards (reference: src/ocr_ipc_service.cpp:222-239) ----

#: Hard cap on raw html bytes; pages above emit ``success=false`` error rows,
#: the analog of the 1 MB pipe-buffer rejection with "use file path" advice.
#: We allow 8 MiB before rejecting (web pages are bigger than screenshots).
MAX_HTML_BYTES = 8 * 1024 * 1024

# --- parallelism -------------------------------------------------------------

#: Default salt buckets for skewed-host salting (SURVEY.md §2.8 P2).
SALT_BUCKETS = 8

#: Default number of lineage buckets for checkpoint/resume.
LINEAGE_BUCKETS = 64
