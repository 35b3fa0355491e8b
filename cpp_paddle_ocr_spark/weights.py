"""Deterministic "model" weights for the three stages.

The reference ships Paddle inference models loaded once per worker
(``src/ocr_worker.cpp:21-63``, probing filename variants at
``src/ocr_det.cpp:26-45``).  Our stand-ins are fixed, seeded NumPy arrays:
inference is reproducible float64 matmul, no ML framework needed
(SURVEY.md §7 step 2).  In the Spark engine these arrays are broadcast
once and lazily materialized per executor (the load-once discipline, X4).

All arrays are generated from ``numpy.random.default_rng(SEED)`` plus
hand-set structural rows, so every process regenerates byte-identical
weights — the analog of shipping ``models/*/inference.pdmodel``.
"""

from __future__ import annotations

import functools

import numpy as np

from .config import CLS_FEAT_W

SEED = 42

# ---------------------------------------------------------------------------
# det token scorer: per-token content-probability model (D4).
#
# Token features (float64), computed vectorized over all tokens of a batch:
#   0: min(len(token), 20) / 20
#   1: alpha ratio (fraction of alphabetic chars)
#   2: digit ratio
#   3: punctuation ratio
#   4: is-stopword (exact member of STOPWORDS)
#   5: uppercase ratio
#   6: link flag (token inside an <a> region)
#   7: boilerplate-hint flag (enclosing block has nav/footer/ad/... ancestor)
#
# score = sigmoid(features @ DET_W + DET_B); the per-token score array is the
# 1-D analog of the DB probability map (src/ocr_det.cpp:116-133).
# ---------------------------------------------------------------------------

DET_W = np.array(
    [
        1.6,   # longer tokens → more contenty
        2.2,   # alphabetic → contenty
        -0.8,  # digits → less
        -0.6,  # punctuation-only → less
        0.4,   # stopwords appear in prose → mildly contenty
        -1.2,  # SHOUTING → boilerplate-ish
        -2.6,  # inside a link → boilerplate-ish (link density is the core
               #   boilerplate signal in content-extraction literature)
        -2.0,  # nav/footer/ad ancestor hint
    ],
    dtype=np.float64,
)
DET_B = np.float64(0.15)

# Normalization constants, analog of det mean/scale
# (include/paddle_ocr/ocr_det.h:121-123): x_norm = (x - MEAN) * SCALE.
DET_MEAN = np.array([0.35, 0.6, 0.05, 0.1, 0.15, 0.1, 0.1, 0.1], dtype=np.float64)
DET_SCALE = np.array([2.0, 2.0, 2.0, 2.0, 1.0, 1.5, 1.0, 1.0], dtype=np.float64)

STOPWORDS = frozenset(
    """a an the and or but of to in on for with at by from as is are was were be
    been it its this that these those he she they we you i not no yes can will
    would could should have has had do does did der die das und ist ein eine
    le la les et est un une de el los las y es""".split()
)

# ---------------------------------------------------------------------------
# cls block classifier: 2-class (content=0 / boilerplate=1) linear model over
# a CLS_FEAT_W-wide char-class feature vector (K1-K4).  Structure mirrors the
# 0°/180° orientation classifier: label 1 ⇒ block excluded (the rotate-180
# analog, src/ocr_worker.cpp:276-281).
#
# Input row: first CLS_FEAT_W chars of the span text mapped to char-class
# codes (see core/classify.py), zero-padded right (K2).
# ---------------------------------------------------------------------------

_CLS_CLASSES = 7  # pad, lower, upper, digit, space, punct, pipe/bullet


def _build_cls_weights() -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(SEED)
    # (CLS_FEAT_W, 2): small seeded noise + structured per-class bias applied
    # through the char-class code value (codes are small ints; the model sees
    # code/6.0). Boilerplate text in the wild (and in our fixtures) is
    # pipe/bullet-separated ALL-CAPS link text → codes 2 (upper) and 6 (pipe)
    # push logit 1; lowercase prose (code 1) pushes logit 0.
    w = rng.normal(0.0, 0.01, size=(CLS_FEAT_W, 2))
    w[:, 0] += 0.05
    return w.astype(np.float64), np.array([0.2, -0.2], dtype=np.float64)


CLS_W, CLS_B = _build_cls_weights()

# Per-char-class logit contribution (added via a lookup before the matmul —
# keeps the matmul shape honest while making the decision interpretable).
# Columns: [content_logit, boilerplate_logit] per class code 0..6.
CLS_CLASS_LOGITS = np.array(
    [
        [0.00, 0.00],   # 0 pad
        [0.060, -0.060],  # 1 lower
        [-0.090, 0.090],  # 2 upper (ALL-CAPS runs are the telltale of CTA
                          #   boilerplate; prose has few upper chars, so the
                          #   per-char weight can be strong without flipping
                          #   sentence-case content)
        [-0.010, 0.010],  # 3 digit
        [0.010, -0.010],  # 4 space
        [-0.015, 0.015],  # 5 punct
        [-0.120, 0.120],  # 6 pipe/bullet separator
    ],
    dtype=np.float64,
)

# ---------------------------------------------------------------------------
# rec confidence model: per-timestep max-prob stand-in (R5).  Deterministic
# hash of the codepoint → prob in [0.75, 1.0); the mean over kept timesteps is
# the span confidence, exactly the reference's mean-of-max-probs
# (src/ocr_rec.cpp:115-125).
# ---------------------------------------------------------------------------

_REC_PRIME = np.uint64(2654435761)

# prob(cp) is a pure function of the codepoint, so it is precomputed over
# the full domain (8.9 MB of float64) and answered with one gather — the
# same full-domain-table pattern as the det/cls class tables. Values are
# bit-identical to the formula (same elementwise float ops, evaluated per
# codepoint once instead of per timestep per batch). The table is built on
# the first ``rec_timestep_probs`` call, so a process that imports this
# module but never runs rec never pays for it.
@functools.cache
def _rec_prob_table() -> np.ndarray:
    cp = np.arange(0x110000, dtype=np.uint64)
    return 0.75 + 0.25 * (
        ((cp * _REC_PRIME) % np.uint64(1000)).astype(np.float64) / 1000.0
    )


def rec_timestep_probs(codepoints: np.ndarray) -> np.ndarray:
    """Vectorized prob(codepoint) in [0.75, 1.0), float64, deterministic."""
    return _rec_prob_table()[codepoints]
