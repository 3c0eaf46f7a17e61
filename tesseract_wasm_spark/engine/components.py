"""P2 (part 1) — connected-component labeling.

The reference's page segmentation starts from connected components inside
upstream Tesseract (``FindBlocks`` pipeline — reference:
patches/tesseract.diff:107-151). Reimplemented here as run-length based
4-connectivity CCL, fully vectorized:

  1. horizontal ink runs per row: one flat edge scan over a copy of the mask
     padded by a blank column on each side, so every row opens and closes
     its own runs and the edges alternate start, end, start, end, ...,
  2. run-to-run adjacency via two global ``searchsorted`` calls on composite
     (row, column) keys — runs are row-major sorted, so interval overlap
     against the previous row is a pair of binary searches, no Python pairs,
  3. component labels by min-label propagation with pointer jumping —
     converges in O(log(component height)) vectorized passes to each
     component's smallest run index, which numbers the components in order
     of their first run without a sort.

The run scan is one pass over the page's pixels; everything after it is
O(runs log runs), independent of page area for blank regions.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class Components:
    """Per-component stats; all arrays have length n."""

    left: np.ndarray  # int32, inclusive
    top: np.ndarray
    right: np.ndarray  # int32, inclusive
    bottom: np.ndarray
    area: np.ndarray  # ink pixel count

    @property
    def n(self) -> int:
        return len(self.left)


def _runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Extract horizontal ink runs: (row, start_col, end_col_exclusive),
    sorted by (row, start).

    The mask (any 2-D view, e.g. ``np.rot90``) is copied once into a bool
    buffer with one blank column on each side and scanned flat: edge ``e``
    marks ``flat[e] != flat[e + 1]``. The blank columns close every run
    inside its row, so even edges open runs and odd edges close them."""
    h, w = mask.shape
    stride = w + 2
    padded = np.zeros((h, stride), dtype=bool)
    padded[:, 1:-1] = mask
    flat = padded.ravel()
    edges = np.flatnonzero(flat[1:] != flat[:-1])
    # column c of row r sits at flat index r * stride + c + 1, so the edge
    # before a run is r * stride + its start column and the edge after it
    # is r * stride + its exclusive end column
    starts = edges[0::2]
    rows = starts // stride
    starts = starts - rows * stride
    ends = edges[1::2] - rows * stride
    return rows, starts, ends


def label_components(mask: np.ndarray) -> Components:
    rows, starts, ends = _runs(mask)
    n_runs = len(rows)
    if n_runs == 0:
        empty = np.empty(0, dtype=np.int32)
        return Components(empty, empty, empty, empty, empty)

    w = mask.shape[1] + 2  # key stride: larger than any column value
    # runs are sorted by (row, start); within a row runs are disjoint and
    # ordered, so these composite keys are globally sorted
    key_start = rows * w + starts
    key_end = rows * w + ends
    # for run i, overlapping runs j in the previous row satisfy
    # end_j > start_i and start_j < end_i (4-connectivity column overlap)
    lo = np.searchsorted(key_end, key_start - w, side="right")
    hi = np.searchsorted(key_start, key_end - w, side="left")
    cnt = np.maximum(hi - lo, 0)

    # edge list (prev-row run `pa` <-> run `pb`), fully vectorized expansion
    total = int(cnt.sum())
    labels = np.arange(n_runs, dtype=np.int64)
    if total:
        pb = np.repeat(np.arange(n_runs, dtype=np.int64), cnt)
        # the k-th edge of run i joins it to run lo[i] + k
        pa = np.arange(total, dtype=np.int64) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
        src = np.concatenate((pa, pb))
        dst = np.concatenate((pb, pa))
        # min-label propagation with pointer jumping: labels always point to
        # an equal-or-smaller run index, so label chains shrink monotonically
        while True:
            m = labels.copy()
            np.minimum.at(m, dst, labels[src])
            m = m[m]  # pointer jumping
            if (m == labels).all():
                break
            labels = m

    # every label is now its component's smallest run index (the root), so
    # counting roots numbers the components in order of their first run,
    # and a root is its component's topmost run
    is_root = labels == np.arange(n_runs)
    labels = (np.cumsum(is_root) - 1)[labels]
    n = int(np.count_nonzero(is_root))
    left = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    right = np.zeros(n, dtype=np.int64)
    bottom = np.zeros(n, dtype=np.int64)
    np.minimum.at(left, labels, starts)
    np.maximum.at(right, labels, ends - 1)
    np.maximum.at(bottom, labels, rows)
    area = np.bincount(labels, weights=ends - starts, minlength=n)
    top = rows[is_root]
    return Components(
        left.astype(np.int32),
        top.astype(np.int32),
        right.astype(np.int32),
        bottom.astype(np.int32),
        area.astype(np.int32),
    )
