"""P10 — orientation detection (0/90/180/270 degrees clockwise).

The reference detects orientation with Leptonica's ``pixOrientDetect`` on the
thresholded image — ascender/descender asymmetry of Latin text — because
Tesseract's own OSD needs the legacy engine that is compiled out (reference:
src/lib.cpp:242-288, comment at 243-249). Its decision tree, reproduced here
exactly (src/lib.cpp:270-287):

    if |up_conf| - |left_conf| > 5.0:  rotation = 0 if up_conf > 0 else 180
    else:                              rotation = 90 if left_conf > 0 else 270

with confidence 1 on success and {rotation 0, confidence 0} on detection
failure (src/lib.cpp:264-268).

Our up/left confidences: segment the ink mask (and its 90°-CCW rotation) into
text lines; for lines whose band height is plausible for a single text line,
count ink above the x-height band (ascenders) vs below the baseline
(descenders): score = (asc - desc) / sqrt(asc + desc), Leptonica's z-score
shape — evidence grows with page size. English text has far more ascender than
descender ink, so the upright axis scores strongly positive, the 180° flip
strongly negative, and a sideways page — whose y-band "lines" are implausibly
short — scores ~0.

All counting is differences of one running row sum (no per-line or
per-component Python work). The caller passes the already-computed
segmentation for the upright axis; the 90° axis (and the upright center band
of a page over 320 rows) costs one labeling and no objects: ``line_stats``
gives each line's top, bottom, baseline and word count as arrays.
"""

from __future__ import annotations

import numpy as np

from tesseract_wasm_spark.engine.components import label_components
from tesseract_wasm_spark.engine.segment import Line, line_stats
from tesseract_wasm_spark.font import BASELINE_ROW, CELL_H, XHEIGHT_TOP

DECISION_MARGIN = 5.0  # reference: src/lib.cpp:280 "fabs(up_confidence) - fabs(left_confidence) > 5.0"
MIN_VALID_INK_FRACTION = 0.5
MIN_LINE_HEIGHT = CELL_H - XHEIGHT_TOP  # 8: a line with at least one ascender
MAX_LINE_HEIGHT = CELL_H  # 11: full ascender+descender band
# SCALE calibrates our hash-glyph font's weaker ascender/descender asymmetry
# (3-row asc vs 3-row desc bands, ~50% ink density) to the magnitude range
# Leptonica's confidences reach on natural fonts, so the reference's literal
# 5.0 axis margin (src/lib.cpp:280) stays meaningful.
SCALE = 2.5


def updown_score(mask: np.ndarray, lines: list[Line] | None = None) -> float:
    """Ascender-vs-descender z-score over plausible text-line strips.

    ``lines``: the mask's segmentation when the caller already has it;
    otherwise the mask is labeled and only its per-line stats are built."""
    if lines is None:
        stats = line_stats(label_components(mask))
    else:
        stats = np.array(
            [(ln.top, ln.bottom, ln.baseline, len(ln.words)) for ln in lines], dtype=np.int64
        ).reshape(-1, 4).T
    top, bottom, baseline, n_words = stats
    if len(top) == 0:
        return 0.0
    # one row-sum pass over the whole mask serves every line strip: strip
    # sums are differences of its running sum
    row_ink = mask.sum(axis=1, dtype=np.int64)
    total_ink = int(row_ink.sum())
    if total_ink == 0:
        return 0.0
    cum = np.concatenate(([0], np.cumsum(row_ink)))
    height = bottom - top + 1
    ok = (MIN_LINE_HEIGHT <= height) & (height <= MAX_LINE_HEIGHT) & (n_words >= 2)
    top, bottom, baseline = top[ok], bottom[ok], baseline[ok]
    end = bottom + 1
    xheight_top = baseline - (BASELINE_ROW - XHEIGHT_TOP)  # baseline - 4
    # ascender rows: [top, xheight_top); descender rows: (baseline, bottom]
    asc = int((cum[np.maximum(xheight_top, top)] - cum[top]).sum())
    desc = int((cum[end] - cum[np.minimum(baseline + 1, end)]).sum())
    valid_ink = int((cum[end] - cum[top]).sum())
    if valid_ink / total_ink < MIN_VALID_INK_FRACTION:
        return 0.0
    return float(SCALE * (asc - desc) / np.sqrt(asc + desc + 1.0))


#: orientation detection samples a center band of at most this many rows per
#: axis — a dozen text lines carry all the ascender/descender signal needed,
#: so detection cost is constant in page size (the reference's pixOrientDetect
#: similarly subsamples via its mincount threshold)
MAX_BAND = 256
_CROP_TRIGGER = 320


def _center_rows(mask: np.ndarray) -> np.ndarray:
    h = mask.shape[0]
    if h <= _CROP_TRIGGER:
        return mask
    mid = h // 2
    return mask[mid - MAX_BAND // 2 : mid + MAX_BAND // 2, :]


def orientation_scores(mask: np.ndarray,
                       lines: list[Line] | None = None) -> tuple[float, float]:
    """The two axis scores the decision tree consumes: (up_conf, left_conf).

    ``lines``: the page's already-computed upright segmentation (reused for
    up_conf when the page is small enough to score whole — the reference
    similarly runs OSD on the already-thresholded image, src/lib.cpp:250-261);
    each axis scores a center band so cost is bounded for large pages.
    Exposed separately so the scores can be snapshotted and the decision tree
    re-derived independently (the driver-gate oracle runs decide_orientation
    as SQL over a committed scores golden — queries.SQL_OCR_ORIENTATION)."""
    if mask.shape[0] <= _CROP_TRIGGER:
        up_conf = updown_score(mask, lines)
    else:
        up_conf = updown_score(_center_rows(mask))
    # CCW rotation makes a 90°-CW page upright; crop its rows = page columns
    left_conf = updown_score(_center_rows(np.rot90(mask, k=1)))
    return up_conf, left_conf


def decide_orientation(up_conf: float, left_conf: float) -> tuple[int, float]:
    """The reference decision tree (src/lib.cpp:264-287) over the two axis
    scores: -> (rotation in {0, 90, 180, 270}, confidence in {0.0, 1.0}),
    with the reference's literal up-vs-left margin (DECISION_MARGIN)."""
    if max(abs(up_conf), abs(left_conf)) < 1.0:
        return 0, 0.0  # detection failed (reference: src/lib.cpp:264-268)
    if abs(up_conf) - abs(left_conf) > DECISION_MARGIN:
        return (0 if up_conf > 0 else 180), 1.0
    return (90 if left_conf > 0 else 270), 1.0
