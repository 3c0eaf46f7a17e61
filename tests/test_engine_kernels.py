"""The engine's array kernels against slow, obvious versions of the same rule:
run-length labeling against a pixel flood fill, and the object-free line
stats that orientation scores against the full segmentation."""

from __future__ import annotations

from collections import deque

import numpy as np
import pytest

from tesseract_wasm_spark.engine.components import Components, label_components
from tesseract_wasm_spark.engine import orientation
from tesseract_wasm_spark.engine.orientation import _center_rows, updown_score
from tesseract_wasm_spark.engine.otsu import binarize
from tesseract_wasm_spark.engine.page import _despeckle
from tesseract_wasm_spark.engine.segment import line_stats, segment
from tesseract_wasm_spark.fixtures import SMALL_PAGE_LINES, TWO_COL_LINES
from tesseract_wasm_spark.font import ADV, BASELINE_ROW, XHEIGHT_TOP
from tesseract_wasm_spark.raster import render_columns, render_page


def flood_fill_components(mask: np.ndarray) -> Components:
    """4-connected components by breadth-first fill, numbered in raster order
    of their first pixel."""
    h, w = mask.shape
    seen = np.zeros((h, w), dtype=bool)
    stats = []
    for r0 in range(h):
        for c0 in range(w):
            if not mask[r0, c0] or seen[r0, c0]:
                continue
            seen[r0, c0] = True
            queue = deque([(r0, c0)])
            left, top, right, bottom, area = c0, r0, c0, r0, 0
            while queue:
                r, c = queue.popleft()
                area += 1
                left, right = min(left, c), max(right, c)
                top, bottom = min(top, r), max(bottom, r)
                for rr, cc in ((r - 1, c), (r + 1, c), (r, c - 1), (r, c + 1)):
                    if 0 <= rr < h and 0 <= cc < w and mask[rr, cc] and not seen[rr, cc]:
                        seen[rr, cc] = True
                        queue.append((rr, cc))
            stats.append((left, top, right, bottom, area))
    cols = np.array(stats, dtype=np.int32).reshape(-1, 5).T
    return Components(*cols)


def _random_mask(shape: tuple[int, int], density: float, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).random(shape) < density


_BASE = _random_mask((41, 57), 0.45, 5)

MASKS = {
    **{f"density-{d}": _random_mask((37, 53), d, 100 + i)
       for i, d in enumerate((0.05, 0.2, 0.4, 0.55, 0.7, 0.9))},
    "empty": np.zeros((12, 17), dtype=bool),
    "all-ink": np.ones((9, 13), dtype=bool),
    "one-row": _random_mask((1, 64), 0.5, 1),
    "one-column": _random_mask((64, 1), 0.5, 2),
    "rot90-view": np.rot90(_BASE),
    "row-crop": _BASE[7:30],
}


@pytest.mark.parametrize("name", sorted(MASKS))
def test_label_components_matches_flood_fill(name):
    mask = MASKS[name]
    got = label_components(mask)
    want = flood_fill_components(np.ascontiguousarray(mask))
    for field in ("left", "top", "right", "bottom", "area"):
        np.testing.assert_array_equal(getattr(got, field), getattr(want, field), err_msg=field)


FIXTURE_MASKS = {
    **{f"rot-{rot}": binarize(render_page(SMALL_PAGE_LINES, rot=rot))
       for rot in (0, 90, 180, 270)},
    "large": binarize(render_page(SMALL_PAGE_LINES * 6)),
    "two-col": binarize(render_columns(TWO_COL_LINES)),
    # one-word lines are left out of the orientation score
    "one-word-lines": binarize(render_page(["Hello", "the quick brown fox", "jumping"])),
}


def _fixture_band(name: str, band: str) -> np.ndarray:
    mask = FIXTURE_MASKS[name]
    return _center_rows(np.rot90(mask, k=1)) if band == "rotated-band" else mask


def _segment_stats(comps: Components) -> list[tuple[int, int, int, int]]:
    return [(ln.top, ln.bottom, ln.baseline, len(ln.words)) for ln in segment(comps)]


@pytest.mark.parametrize("band", ["page", "rotated-band"])
@pytest.mark.parametrize("name", sorted(FIXTURE_MASKS))
def test_line_stats_matches_segment(name, band):
    mask = _fixture_band(name, band)
    for comps in (label_components(mask), _despeckle(label_components(mask))):
        stats = np.stack(line_stats(comps), axis=1).tolist()
        assert stats == [list(s) for s in _segment_stats(comps)]
        assert stats  # every fixture band has lines


def updown_loop(mask: np.ndarray, lines) -> float:
    """The ascender/descender z-score summed line by line."""
    row_ink = mask.sum(axis=1, dtype=np.int64)
    total_ink = int(row_ink.sum())
    if not lines or total_ink == 0:
        return 0.0
    asc = desc = valid_ink = 0
    for line in lines:
        height = line.bottom - line.top + 1
        if not (orientation.MIN_LINE_HEIGHT <= height <= orientation.MAX_LINE_HEIGHT):
            continue
        if len(line.words) < 2:
            continue
        xheight_top = line.baseline - (BASELINE_ROW - XHEIGHT_TOP)
        for r in range(line.top, line.bottom + 1):
            asc += int(row_ink[r]) if r < xheight_top else 0
            desc += int(row_ink[r]) if r > line.baseline else 0
            valid_ink += int(row_ink[r])
    if valid_ink / total_ink < orientation.MIN_VALID_INK_FRACTION:
        return 0.0
    return float(orientation.SCALE * (asc - desc) / np.sqrt(asc + desc + 1.0))


@pytest.mark.parametrize("band", ["page", "rotated-band"])
@pytest.mark.parametrize("name", sorted(FIXTURE_MASKS))
def test_updown_score_matches_line_loop(name, band):
    mask = _fixture_band(name, band)
    lines = segment(label_components(mask))
    want = updown_loop(mask, lines)
    assert updown_score(mask) == want
    assert updown_score(mask, lines) == want


def test_line_stats_empty():
    empty = label_components(np.zeros((5, 5), dtype=bool))
    assert [len(a) for a in line_stats(empty)] == [0, 0, 0, 0]
    assert segment(empty) == []


@pytest.mark.parametrize("page", ["many-words", "phase-tie"])
def test_pen_left_snaps_to_line_mode_phase(page):
    """Each word's pen_left is its left edge snapped to the line's most
    common left % ADV, the smallest phase on a tie. A speck that widens one
    word's box among many leaves its anchor on the glyph grid; on a two-word
    line it makes a tie."""
    text = SMALL_PAGE_LINES if page == "many-words" else ["Hello there"]
    mask = binarize(render_page(text))
    word = segment(label_components(mask))[0].words[1]
    row = word.top + int(np.argmax(mask[word.top : word.bottom + 1, word.left]))
    mask[row, word.left - 1] = True  # touches the word's first glyph
    lines = segment(label_components(mask))
    specked = lines[0].words[1]
    assert specked.left == word.left - 1
    if page == "many-words":
        assert specked.pen_left == word.left
    for line in lines:
        counts = np.bincount([w.left % ADV for w in line.words], minlength=ADV)
        phase = int(np.argmax(counts))
        for w in line.words:
            assert (w.pen_left - phase) % ADV == 0
            assert abs(w.pen_left - w.left) <= ADV // 2
