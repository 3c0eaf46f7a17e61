"""P2 (part 2) — line and word segmentation + baseline estimation.

Mirrors the reference's PSM_AUTO layout analysis contract (reference:
src/lib.cpp:177-180 SetPageSegMode(PSM_AUTO); AnalyseLayout src/lib.cpp:198-201)
at the granularity the API exposes: text lines and words with bounding boxes
(TextUnit Word | Line — reference: src/lib.cpp:43-46).

Algorithm (deterministic, font-geometry aware — see font.py; vectorized):
  - lines: components sorted by top; a new line starts where a component's top
    exceeds the running max bottom of everything above it (text lines are
    vertically separated by >= LINE_GAP blank rows, so the global
    maximum.accumulate is exact on upright pages).
  - baseline per line: every glyph is one component whose bottom row is either
    the baseline (non-descenders) or baseline + DESC_ROWS (descenders), so the
    baseline is recovered from the component-bottom histogram. This plays the
    role of Tesseract's baseline fitting / GetDeskewVectors (reference:
    patches/tesseract.diff:118-119).
  - words: within a line, components sorted by left edge; a gap of >= ADV
    blank columns separates words (intra-word gaps are at most ADV-1 because
    glyphs are left-aligned in their cells; the space advance guarantees
    inter-word gaps of at least ADV+1). Vectorized via maximum.accumulate of
    right edges + cumsum of break flags.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np

from tesseract_wasm_spark.engine.components import Components
from tesseract_wasm_spark.font import ADV, BASELINE_ROW, DESC_BOTTOM

DESC_ROWS = DESC_BOTTOM - BASELINE_ROW  # 3


@dataclass
class Word:
    left: int
    top: int
    right: int
    bottom: int
    #: recognition anchor: ``left`` snapped to the line's dominant pen phase
    #: (mod ADV). On clean renders equals ``left``; under specks that extend a
    #: word's ink box, the phase consensus of the other words recovers the
    #: true glyph grid. The bbox fields stay the observed ink bounds.
    pen_left: int = -1


@dataclass
class Line:
    top: int
    bottom: int
    baseline: int  # absolute row index of the baseline (bottom ink row of
    # non-descender glyphs)
    words: list[Word] = field(default_factory=list)

    @property
    def left(self) -> int:
        return min(w.left for w in self.words)

    @property
    def right(self) -> int:
        return max(w.right for w in self.words)


#: minimum blank-column run that counts as a column gutter: wider than any
#: intra-line word gap the renderer can produce with <=2 consecutive spaces
#: (max ~17px), so single-column text never splits spuriously
MIN_GUTTER = 3 * ADV


def find_blocks(comps: Components, *, min_gutter: int = MIN_GUTTER) -> list[np.ndarray]:
    """Column-block detection — the analog of the reference's FindBlocks
    (patches/tesseract.diff:107-151, Tesseract's ColumnFinder): a full-height
    blank vertical band of >= min_gutter columns splits the page into careas.

    Returns a list of component index arrays, one per block, ordered left to
    right; a single-block page returns one array with every index. The caller
    is expected to reject degenerate splits (a real column has >= 2 lines) —
    see page.layout_stage."""
    if comps.n == 0:
        return []
    w = int(comps.right.max()) + 2
    cover = np.zeros(w + 1, dtype=np.int64)
    np.add.at(cover, comps.left, 1)
    np.add.at(cover, comps.right + 1, -1)
    occupied = np.cumsum(cover)[:-1] > 0
    occ_idx = np.flatnonzero(occupied)
    lo, hi = int(occ_idx[0]), int(occ_idx[-1])
    # blank runs strictly inside the content span
    inside = ~occupied[lo : hi + 1]
    if not inside.any():
        return [np.arange(comps.n)]
    d = np.diff(inside.astype(np.int8), prepend=0, append=0)
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    cuts = [lo + (s + e) // 2 for s, e in zip(starts, ends) if e - s >= min_gutter]
    if not cuts:
        return [np.arange(comps.n)]
    xc = (comps.left + comps.right) // 2
    block_of = np.searchsorted(np.asarray(cuts), xc, side="left")
    return [np.flatnonzero(block_of == b) for b in range(len(cuts) + 1)]


def subset(comps: Components, idx: np.ndarray) -> Components:
    return Components(
        comps.left[idx], comps.top[idx], comps.right[idx],
        comps.bottom[idx], comps.area[idx],
    )


class _LineArrays(NamedTuple):
    """Array core of the segmentation: components in (line, left) order."""

    line: np.ndarray  # line id of each component
    left: np.ndarray
    top: np.ndarray
    right: np.ndarray
    bottom: np.ndarray
    word_break: np.ndarray  # True where a component starts a new word
    line_top: np.ndarray  # per line
    line_bottom: np.ndarray
    baseline: np.ndarray


def _line_arrays(comps: Components) -> _LineArrays:
    order = np.argsort(comps.top, kind="stable")
    tops = comps.top[order]
    bottoms = comps.bottom[order]
    # line break where a component starts below everything seen so far
    run_max_bottom = np.maximum.accumulate(bottoms)
    lbreaks = np.empty(len(order), dtype=bool)
    lbreaks[0] = True
    lbreaks[1:] = tops[1:] > run_max_bottom[:-1]
    line_of = np.empty(comps.n, dtype=np.int64)
    line_of[order] = np.cumsum(lbreaks) - 1
    n_lines = int(line_of[order[-1]] + 1)

    # global (line, left) ordering; segmented running-max of right edges via
    # the per-line offset trick (offsets dominate any earlier segment's max)
    order2 = np.lexsort((comps.left, line_of))
    li2 = line_of[order2]
    lefts = comps.left[order2].astype(np.int64)
    rights = comps.right[order2].astype(np.int64)
    ctops = comps.top[order2].astype(np.int64)
    cbots = comps.bottom[order2].astype(np.int64)
    big = np.int64(1) << 32
    runmax = np.maximum.accumulate(rights + li2 * big) - li2 * big
    new_line = np.empty(len(order2), dtype=bool)
    new_line[0] = True
    new_line[1:] = li2[1:] != li2[:-1]
    wbreaks = new_line.copy()
    wbreaks[1:] |= lefts[1:] - runmax[:-1] - 1 >= ADV

    # each line is one contiguous segment of this order
    line_start = np.flatnonzero(new_line)
    lt = np.minimum.reduceat(ctops, line_start)
    lb = np.maximum.reduceat(cbots, line_start)

    # baseline per line: histogram of bottoms relative to line top; among
    # values whose +DESC_ROWS twin also occurs, the pair with the most
    # support wins, baseline-row bottoms counted twice (non-descender glyphs
    # dominate a real text line, so a speck pairing with the true baseline
    # row can't outvote the true (baseline, descender) pair); with no such
    # pair, the mode wins. Ties go to the smaller row.
    bins = 64
    rel = np.minimum(cbots - lt[li2], bins - 1 - DESC_ROWS)
    counts = np.bincount(li2 * bins + rel, minlength=n_lines * bins).reshape(n_lines, bins)
    exists = counts > 0
    pair_support = np.where(
        exists[:, : bins - DESC_ROWS] & exists[:, DESC_ROWS:],
        2 * counts[:, : bins - DESC_ROWS] + counts[:, DESC_ROWS:],
        0,
    )
    has_pair = pair_support.any(axis=1)
    baseline_rel = np.where(
        has_pair, np.argmax(pair_support, axis=1), np.argmax(counts, axis=1)
    )
    return _LineArrays(li2, lefts, ctops, rights, cbots, wbreaks, lt, lb, lt + baseline_rel)


def line_stats(comps: Components) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-line (top, bottom, baseline, n_words) in reading order — the
    fields of ``segment``'s lines, without building them."""
    if comps.n == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, empty, empty
    la = _line_arrays(comps)
    n_words = np.bincount(la.line[la.word_break], minlength=len(la.line_top))
    return la.line_top, la.line_bottom, la.baseline, n_words


def segment(comps: Components) -> list[Line]:
    if comps.n == 0:
        return []
    la = _line_arrays(comps)
    n_lines = len(la.line_top)
    # each word is one contiguous segment of the (line, left) order, so its
    # first component is its leftmost
    word_start = np.flatnonzero(la.word_break)
    word_line = la.line[word_start]
    wl = la.left[word_start]
    wt = np.minimum.reduceat(la.top, word_start)
    wr = np.maximum.reduceat(la.right, word_start)
    wb = np.maximum.reduceat(la.bottom, word_start)

    # pen-phase consensus per line: word starts are congruent mod ADV on a
    # rendered page; snap each word's recognition anchor to the line's mode
    # phase (the smallest on a tie) so a single speck can't shift a word's
    # whole glyph grid
    phase_counts = np.bincount(word_line * ADV + wl % ADV, minlength=n_lines * ADV)
    phase = np.argmax(phase_counts.reshape(n_lines, ADV), axis=1)
    delta = (wl - phase[word_line] + ADV // 2) % ADV - ADV // 2
    pen_left = wl - delta

    lines = [
        Line(top=t, bottom=b, baseline=bl)
        for t, b, bl in zip(la.line_top.tolist(), la.line_bottom.tolist(), la.baseline.tolist())
    ]
    for li, left, top, right, bottom, pen in zip(
        word_line.tolist(), wl.tolist(), wt.tolist(), wr.tolist(), wb.tolist(), pen_left.tolist()
    ):
        lines[li].words.append(Word(left, top, right, bottom, pen))
    # reading order: lines top-to-bottom, words left-to-right (by construction)
    return lines
