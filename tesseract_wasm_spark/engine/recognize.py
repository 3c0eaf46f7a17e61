"""P5/P6 — glyph sequence recognition with per-word confidence.

Plays the role of the reference's LSTM line recognizer + CTC decode
(reference: src/lib.cpp:325-336 Recognize; LSTM-only because the legacy engine
is compiled out, Makefile:108 -DDISABLED_LEGACY_ENGINE=ON). The environment has
no trained model, so recognition inverts the project's own deterministic font
(font.py): each word is sliced into fixed-advance glyph cells aligned to the
line baseline and matched against the full template set in one batched matmul
(numpy BLAS — the analog of the reference's SIMD dot-product path,
src/tesseract-init.js:30-39 ENV.DOTPRODUCT="sse").

Fully vectorized: cell extraction is a strided reshape per word (no per-glyph
Python), matching is one [n_cells, n_templates] matmul per page, and the
decode (exact / partial / replacement) is numpy select logic.

Confidence semantics follow the reference: a score in [0, 1] per word
(reference converts Tesseract's percentage via ``Confidence(level) * 0.01`` —
src/lib.cpp:302-304). An exact template match scores 1.0; otherwise the best
template's Jaccard overlap is used (and the replacement char is emitted when
overlap < 0.5), so garbage input degrades gracefully instead of failing.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np

from tesseract_wasm_spark.engine.segment import Line, Word
from tesseract_wasm_spark.font import (
    ADV,
    BASELINE_ROW,
    CELL_H,
    CELL_W,
    REPLACEMENT_CHAR,
    glyph_table,
    template_matrix,
)

MIN_PARTIAL_OVERLAP = 0.5

#: stroke-thickness gate for the degraded-scan tier: interior-ink ratio of
#: clean renders of this font measures <= ~0.03; box-blur degraded pages
#: measure >= ~0.40 (the blur fills stroke interiors). Anything in between is
#: unseen; 0.15 splits the two populations with a wide margin either side.
DEGRADED_MIN_THICKNESS = 0.15

#: count-threshold levels the degraded banks cover: a global threshold over a
#: 3x3 blur of a two-level render is exactly ``3x3 ink count >= K`` for some
#: K in 1..9 (K depends on where Otsu lands); K>6 erodes thin strokes to
#: nothing, so 1..6 is the usable recovery range.
_DEG_KS = (1, 2, 3, 4, 5, 6)
#: alignment search: degradation grows each stroke by up to 1px per side, so
#: the degraded mask's word bboxes / baseline sit within ~2px of the clean
#: glyph grid.
_DEG_DY = (-2, -1, 0, 1)
_DEG_DX = (-1, 0, 1, 2)

#: Unigram prior for degraded-bank collisions (most-likely first). The
#: count-threshold morphology is lossy: a few glyph pairs degrade to the same
#: bitmap (e.g. E/I at K=3), exactly the ambiguity a trained recognizer breaks
#: with its language model (the reference's LSTM beam search carries a
#: unigram LM the same way). Order: lowercase by English letter frequency,
#: then capitals (word-initial frequency; 'I' first — the pronoun), then
#:  digits, then punctuation. Deterministic; chars absent here rank last by
#: codepoint.
DEGRADE_PRIOR = (
    "etaoinshrdlcumwfgypbvkjxqz"
    "ITSAWHBMCDPRLNEFGOUVJKQXYZ"
    "0123456789"
    ".,'\"-!?;:()[]{}<>/\\|@#$%^&*_+=~`"
)

_F32_CACHE: dict[tuple, tuple] = {}


def _filtered_templates(whitelist: str | None, lang: str = "eng"):
    """(templates, chars) for the language model, restricted to a whitelist
    (P11: the behavioral effect of ``tessedit_char_whitelist`` — Tesseract
    only ever emits whitelisted characters; reference exposes the variable
    through setVariable, src/lib.cpp:150-170). Empty/None = unrestricted; a
    whitelist that matches no font glyph falls back to unrestricted."""
    templates, chars = template_matrix(lang)
    if not whitelist:
        return templates, chars
    allowed = set(whitelist)
    idx = [i for i, c in enumerate(chars) if c in allowed]
    if not idx:
        return templates, chars
    return templates[idx], "".join(chars[i] for i in idx)


def _templates_f32(whitelist: str | None = None, lang: str = "eng"):
    """Cached float32 template matrix + ink sums (avoid per-page astype)."""
    key = ("t", whitelist or "", lang)
    if key not in _F32_CACHE:
        templates, chars = _filtered_templates(whitelist, lang)
        t = templates.astype(np.float32)
        _F32_CACHE[key] = (t, t.sum(axis=1), np.frombuffer(chars.encode("latin-1"), dtype=np.uint8))
    return _F32_CACHE[key]


def _pack_keys(bits: np.ndarray) -> np.ndarray:
    """bool[N, CELL_H*CELL_W] -> uint64[N]: the 55-bit cell bitmap as one
    integer key (packbits zero-pads to 56 bits, consistently on both sides)."""
    packed = np.packbits(bits, axis=1)  # [N, 7] uint8
    out = np.zeros((bits.shape[0], 8), dtype=np.uint8)
    out[:, :7] = packed
    return out.view(">u8")[:, 0]


def _template_keys(whitelist: str | None = None, lang: str = "eng"):
    """Cached (sorted template keys, chars in key order) for the exact-match
    fast path: recognizing a clean page is one packbits + one searchsorted,
    no dense matmul (the analog of the reference's beam-search early exit)."""
    key = ("k", whitelist or "", lang)
    if key not in _F32_CACHE:
        templates, chars = _filtered_templates(whitelist, lang)
        keys = _pack_keys(templates)
        order = np.argsort(keys)
        _F32_CACHE[key] = (
            keys[order],
            np.frombuffer(chars.encode("latin-1"), dtype=np.uint8)[order],
        )
    return _F32_CACHE[key]


def _extract_cells(mask: np.ndarray, lines: list[Line]) -> tuple[np.ndarray, list[tuple[int, int, int]]]:
    """Slice every word of every line into glyph cells.

    Returns (cells [N, CELL_H*CELL_W] bool, index [(line_i, word_i, n_cells)]).
    Cells are aligned vertically by the line baseline: rows
    [baseline - BASELINE_ROW, baseline + (CELL_H - 1 - BASELINE_ROW)].

    r06: ONE flat gather for the whole page instead of one band slice per
    line — per-line numpy-call overhead was ~half this function's cost at
    ~16 lines/page. The (row, col) grid of every cell-column of every word
    indexes the raveled mask directly, with out-of-page rows/columns masked
    to False exactly as the per-line form did (verified cell-identical on
    random + fixture + degraded pages)."""
    h, w = mask.shape
    anchors_l: list[int] = []
    rights_l: list[int] = []
    r0_l: list[int] = []
    where: list[tuple[int, int]] = []
    for li, line in enumerate(lines):
        if not line.words:
            continue
        r0 = line.baseline - BASELINE_ROW
        for wi, wd in enumerate(line.words):
            anchors_l.append(wd.pen_left if wd.pen_left >= 0 else wd.left)
            rights_l.append(wd.right)
            r0_l.append(r0)
            where.append((li, wi))
    if not where:
        return np.zeros((0, CELL_H * CELL_W), dtype=bool), []
    anchors = np.asarray(anchors_l, dtype=np.int64)
    rights = np.asarray(rights_l, dtype=np.int64)
    r0s = np.asarray(r0_l, dtype=np.int64)
    ns = np.maximum(1, -(-(rights - anchors + 1) // ADV))  # cells per word
    spans = ns * ADV
    # column index of every cell-column of every word, page-wide
    offsets = np.repeat(np.cumsum(spans) - spans, spans)
    cols = np.arange(spans.sum()) - offsets + np.repeat(anchors, spans)
    r0_col = np.repeat(r0s, spans)
    rowgrid = r0_col[None, :] + np.arange(CELL_H, dtype=np.int64)[:, None]
    valid = (cols[None, :] >= 0) & (cols[None, :] < w) & (rowgrid >= 0) & (rowgrid < h)
    flat = np.clip(rowgrid, 0, h - 1) * w + np.clip(cols, 0, w - 1)[None, :]
    vals = mask.ravel()[flat]
    vals &= valid
    total = int(ns.sum())
    # row-major reshape splits the gathered band into ADV-wide chunks;
    # dropping the spacer column yields the glyph cells in word order
    cells = vals.reshape(CELL_H, total, ADV)[:, :, :CELL_W]
    index = [(li, wi, int(n)) for (li, wi), n in zip(where, ns)]
    return cells.transpose(1, 0, 2).reshape(total, CELL_H * CELL_W), index


def recognize_words(mask: np.ndarray, lines: list[Line], *,
                    whitelist: str | None = None,
                    lang: str = "eng",
                    ) -> list[list[tuple[str, float]]]:
    """Per line, per word: (text, confidence). Batched over the whole page.

    ``whitelist`` restricts the emit alphabet (tessedit_char_whitelist);
    ``lang`` selects the glyph model (S4 — the reference hardcodes "eng",
    src/lib.cpp:138; the Spark pipeline dispatches per row). A cell that
    matches no template reads as the replacement char when its best
    Jaccard overlap is under MIN_PARTIAL_OVERLAP. A line the retries below
    re-anchor or re-split is replaced in ``lines`` by an edited copy."""
    cells_bool, index = _extract_cells(mask, lines)
    results: list[list[tuple[str, float]]] = [[] for _ in lines]
    if len(index) == 0:
        return results

    # fast path: bitpacked exact match (covers every cell on clean pages)
    tkeys, tchars = _template_keys(whitelist, lang)
    keys = _pack_keys(cells_bool)
    pos = np.searchsorted(tkeys, keys)
    pos_c = np.minimum(pos, len(tkeys) - 1)
    exact = tkeys[pos_c] == keys
    n = cells_bool.shape[0]
    conf = exact.astype(np.float64)
    chars_arr = tchars[pos_c]  # valid where exact
    use_repl = np.zeros(n, dtype=bool)

    miss = np.flatnonzero(~exact)
    if miss.size:
        # slow path (garbage/degraded cells only): nearest template by
        # Hamming distance via one small matmul, Jaccard confidence
        t, tmpl_ink, chars_bytes = _templates_f32(whitelist, lang)  # [G, P]
        sub = cells_bool[miss].astype(np.float32)
        inter = sub @ t.T  # [M, G]
        cell_ink = sub.sum(axis=1)
        union = cell_ink[:, None] + tmpl_ink[None, :] - inter
        hamming = union - inter
        rows = np.arange(miss.size)
        best = np.argmin(hamming, axis=1)
        jacc = inter[rows, best] / np.maximum(union[rows, best], 1e-9)
        no_ink = cell_ink == 0
        conf[miss] = np.where(no_ink, 0.0, jacc)
        chars_arr[miss] = chars_bytes[best]
        use_repl[miss] = no_ink | (jacc < MIN_PARTIAL_OVERLAP)

    # bulk decode: slice one latin-1 string per word; per-word confidence via
    # segmented reduceat (no per-cell Python in the common all-exact case)
    lens = np.fromiter((k for _, _, k in index), dtype=np.int64, count=len(index))
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    word_conf = np.add.reduceat(conf, starts) / lens
    word_has_repl = np.add.reduceat(use_repl.astype(np.int64), starts) > 0
    word_has_miss = np.add.reduceat((~exact).astype(np.int64), starts) > 0
    all_chars = chars_arr.tobytes().decode("latin-1")
    retry_lines: set[int] = set()
    for w, (li, wi, k) in enumerate(index):
        s, e = starts[w], starts[w] + k
        if word_has_miss[w]:
            retry_lines.add(li)
        if word_has_repl[w]:
            text = "".join(
                REPLACEMENT_CHAR if use_repl[i] else all_chars[i] for i in range(s, e)
            )
        else:
            text = all_chars[s:e]
        results[li].append((text, float(word_conf[w])))

    # baseline-correction retry: a line whose glyphs are ALL descenders has no
    # baseline-row bottoms, so segment() anchors DESC_ROWS too low; the font is
    # shift-unique (font.glyph_table), so the misalignment shows up as
    # unmatched cells rather than wrong text. Retry those lines 3 rows up and
    # accept only a perfect match.
    from tesseract_wasm_spark.engine.segment import DESC_ROWS  # noqa: PLC0415

    resolved: set[int] = set()
    for li in retry_lines:
        fixed = replace(lines[li], baseline=lines[li].baseline - DESC_ROWS)
        cells2, idx2 = _extract_cells(mask, [fixed])
        keys2 = _pack_keys(cells2)
        pos2 = np.minimum(np.searchsorted(tkeys, keys2), len(tkeys) - 1)
        if not (tkeys[pos2] == keys2).all():
            continue
        decoded = tchars[pos2].tobytes().decode("latin-1")
        out = []
        p = 0
        for _, _, k in idx2:
            out.append((decoded[p : p + k], 1.0))
            p += k
        results[li] = out
        lines[li] = fixed
        resolved.add(li)

    # degraded-scan recovery (see the tier below): lines still carrying
    # unmatched cells on a page whose strokes measure thickened are retried
    # against the count-threshold degraded banks. Clean pages never get here
    # (no unmatched cells), so the byte-identity fast path is untouched.
    remaining = sorted(retry_lines - resolved)
    if remaining and stroke_thickness(mask) >= DEGRADED_MIN_THICKNESS:
        _degraded_retry(mask, lines, remaining, results,
                        whitelist=whitelist, lang=lang)
    return results


# --- degraded-scan recovery tier (P5 extension) ------------------------------
#
# A defocused scan binarizes to a *thickened* mask: on a two-level render, a
# global threshold over any centered 3x3 blur equals the count-threshold
# morphology ``deg_K(mask) = (3x3 ink count >= K)`` for some K (the blurred
# value is strictly monotone in the count). That operator commutes with the
# renderer per glyph cell (1px inter-glyph spacer => no cross-glyph count
# bleed into kept cell columns), so recognition under blur reduces to exact
# bit matching against pre-degraded template banks — the same invert-the-font
# strategy as the clean path, one morphology deeper. The reference's trained
# LSTM absorbs this degradation statistically (its fixtures are real photos,
# test/small-frog.jpg); this tier is the deterministic analog.


def _prior_rank(ch: str) -> int:
    i = DEGRADE_PRIOR.find(ch)
    return i if i >= 0 else 1000 + ord(ch)


def _count3x3(m: np.ndarray) -> np.ndarray:
    """3x3 neighborhood ink count, zero-padded, same shape as input."""
    p = np.zeros((m.shape[0] + 2, m.shape[1] + 2), dtype=np.int64)
    p[1:-1, 1:-1] = m
    return (
        p[:-2, :-2] + p[:-2, 1:-1] + p[:-2, 2:]
        + p[1:-1, :-2] + p[1:-1, 1:-1] + p[1:-1, 2:]
        + p[2:, :-2] + p[2:, 1:-1] + p[2:, 2:]
    )


def stroke_thickness(mask: np.ndarray) -> float:
    """Interior-ink ratio: fraction of ink pixels whose 4-neighborhood is all
    ink. Thin-stroke glyph renders score ~0.02; count-threshold degraded
    pages ~0.42 (the degraded-tier trigger)."""
    m = mask.astype(bool)
    ink = int(m.sum())
    if ink == 0:
        return 0.0
    interior = int(
        (m[1:-1, 1:-1] & m[1:-1, :-2] & m[1:-1, 2:] & m[:-2, 1:-1] & m[2:, 1:-1]).sum()
    )
    return interior / ink


def _degraded_banks(whitelist: str | None, lang: str):
    """Per K: (sorted degraded keys, emit chars uint8, clean template rows).

    Colliding degraded bitmaps keep the highest-DEGRADE_PRIOR char (the
    unigram-LM tie-break); the clean template row rides along so confidences
    can be measured against the *clean* glyph the char came from."""
    key = ("deg", whitelist or "", lang)
    if key not in _F32_CACHE:
        templates, chars = _filtered_templates(whitelist, lang)
        n = len(chars)
        stack = np.zeros((n, CELL_H + 4, CELL_W + 4), dtype=np.int64)
        stack[:, 2:-2, 2:-2] = templates.reshape(n, CELL_H, CELL_W)
        p = np.zeros((n, CELL_H + 6, CELL_W + 6), dtype=np.int64)
        p[:, 1:-1, 1:-1] = stack
        cnt = (
            p[:, :-2, :-2] + p[:, :-2, 1:-1] + p[:, :-2, 2:]
            + p[:, 1:-1, :-2] + p[:, 1:-1, 1:-1] + p[:, 1:-1, 2:]
            + p[:, 2:, :-2] + p[:, 2:, 1:-1] + p[:, 2:, 2:]
        )
        banks = []
        for K in _DEG_KS:
            degs = (cnt >= K)[:, 2:-2, 2:-2].reshape(n, -1)
            keys = _pack_keys(degs)
            best: dict[int, int] = {}  # key -> template row
            for row in range(n):
                k_int = int(keys[row])
                cur = best.get(k_int)
                if cur is None or _prior_rank(chars[row]) < _prior_rank(chars[cur]):
                    best[k_int] = row
            uk = np.array(sorted(best), dtype=np.uint64).astype(keys.dtype)
            rows = np.array([best[k] for k in sorted(best)], dtype=np.int64)
            uc = np.frombuffer(chars.encode("latin-1"), dtype=np.uint8)[rows]
            banks.append((uk, uc, rows))
        _F32_CACHE[key] = banks
    return _F32_CACHE[key]


def _expected_gap_cells(
    left_ch: str | None, n: int, right_ch: str | None, K: int, table
) -> list[np.ndarray]:
    """What ``n`` empty glyph cells between ``left_ch`` and ``right_ch`` look
    like after deg_K — the degradation bridges narrow inter-word gaps, so a
    space cell is NOT blank under blur; its exact expected bitmap is computed
    from the flanking glyphs (None = word boundary: bbox-extension bleed)."""
    width = (n + 2) * ADV
    p = np.zeros((CELL_H + 4, width + 4), dtype=np.int64)
    if left_ch is not None and left_ch in table:
        p[2 : 2 + CELL_H, 2 : 2 + CELL_W] = table[left_ch]
    if right_ch is not None and right_ch in table:
        rx = 2 + (n + 1) * ADV
        p[2 : 2 + CELL_H, rx : rx + CELL_W] = table[right_ch]
    d = _count3x3(p) >= K
    return [
        d[2 : 2 + CELL_H, 2 + (s + 1) * ADV : 2 + (s + 1) * ADV + CELL_W]
        for s in range(n)
    ]


def _degraded_retry(
    mask: np.ndarray,
    lines: list[Line],
    line_ids: list[int],
    results: list[list[tuple[str, float]]],
    *,
    whitelist: str | None,
    lang: str,
) -> bool:
    """Re-recognize ``line_ids`` against the degraded banks. Replaces
    ``results[li]``, and ``lines[li]`` with a copy holding the re-split
    words (degradation can merge words — bridged or narrowed inter-word
    gaps; verified gap cells split them back); no Line is edited.

    Selection: page-level K vote (the whole page shares one blur level), then
    per-word best (dy, dx) alignment at that K. A word none of whose cells
    exact-match any degraded template keeps its original (Jaccard/replacement)
    result — garbage stays garbage, only genuine degraded glyphs are rescued.
    Confidence of a rescued cell = Jaccard of the observed degraded cell vs
    the *clean* template of the emitted char, so recovered words report an
    honestly reduced confidence instead of 1.0.
    """
    banks = _degraded_banks(whitelist, lang)
    t_clean, tmpl_ink, _ = _templates_f32(whitelist, lang)
    table = glyph_table(lang)

    cand_per_line: list[tuple[int, dict]] = []
    votes = dict.fromkeys(_DEG_KS, 0)
    for li in line_ids:
        line = lines[li]
        if not line.words:
            continue
        cand: dict[tuple[int, int, int], tuple] = {}
        best_k = dict.fromkeys(_DEG_KS, 0)
        for dy in _DEG_DY:
            for dx in _DEG_DX:
                ws = [
                    Word(
                        left=w.left + dx, top=w.top, right=w.right + dx,
                        bottom=w.bottom,
                        pen_left=(w.pen_left + dx if w.pen_left >= 0 else -1),
                    )
                    for w in line.words
                ]
                fl = Line(top=line.top, bottom=line.bottom,
                          baseline=line.baseline + dy, words=ws)
                cells, index = _extract_cells(mask, [fl])
                if not index:
                    continue
                keys = _pack_keys(cells)
                for ki, (bk, bc, br) in enumerate(banks):
                    pos = np.minimum(np.searchsorted(bk, keys), len(bk) - 1)
                    ex = bk[pos] == keys
                    cand[(ki, dy, dx)] = (ex, bc[pos], br[pos], index, cells)
                    ne = int(ex.sum())
                    if ne > best_k[_DEG_KS[ki]]:
                        best_k[_DEG_KS[ki]] = ne
        cand_per_line.append((li, cand))
        for K in _DEG_KS:
            votes[K] += best_k[K]
    if not any(votes.values()):
        return False
    k_star = max(_DEG_KS, key=lambda K: votes[K])
    ki_star = _DEG_KS.index(k_star)

    changed = False
    for li, cand in cand_per_line:
        line = lines[li]
        best: dict[int, tuple] = {}
        for (ki, dy, dx) in sorted(cand):
            if ki != ki_star:
                continue
            ex, chs, rows, index, cells = cand[(ki, dy, dx)]
            p = 0
            for wi, (_, _, k) in enumerate(index):
                ne = int(ex[p : p + k].sum())
                cur = best.get(wi)
                if cur is None or ne > cur[0]:
                    best[wi] = (ne, ex[p : p + k], chs[p : p + k],
                                rows[p : p + k], cells[p : p + k], dx)
                p += k
        new_words: list[Word] = []
        new_res: list[tuple[str, float]] = []
        for wi, w in enumerate(line.words):
            sel = best.get(wi)
            if sel is None or sel[0] == 0:
                new_words.append(w)
                new_res.append(results[li][wi])
                continue
            ne, ex, chs, rows, cells, dx = sel
            k = len(ex)
            decoded = chs.tobytes().decode("latin-1")
            # classify each cell: matched char / verified gap (space or
            # boundary bleed) / unexplained (replacement)
            kinds: list[tuple] = []
            i = 0
            while i < k:
                if ex[i]:
                    kinds.append(("c", decoded[i], int(rows[i])))
                    i += 1
                    continue
                j = i
                while j < k and not ex[j]:
                    j += 1
                left_ch = decoded[i - 1] if i > 0 else None
                right_ch = decoded[j] if j < k else None
                verified = False
                if left_ch is not None or right_ch is not None:
                    expc = _expected_gap_cells(left_ch, j - i, right_ch, k_star, table)
                    obs = cells[i:j].reshape(j - i, CELL_H, CELL_W)
                    verified = all((o == e).all() for o, e in zip(obs, expc))
                if verified and left_ch is not None and right_ch is not None:
                    kinds.extend([("s",)] * (j - i))  # merged inter-word gap
                elif verified:
                    kinds.extend([("x",)] * (j - i))  # bbox-extension bleed
                else:
                    kinds.extend([("r",)] * (j - i))
                i = j
            changed = True
            # split into parts at "s" runs; drop "x" cells entirely
            anchor = (w.pen_left if w.pen_left >= 0 else w.left) + dx
            cells_f = cells.astype(np.float32)
            cell_ink = cells_f.sum(axis=1)
            part: list[tuple[int, tuple]] = []
            parts: list[list[tuple[int, tuple]]] = []
            for ci, kind in enumerate(kinds):
                if kind[0] == "s":
                    if part:
                        parts.append(part)
                        part = []
                elif kind[0] != "x":
                    part.append((ci, kind))
            if part:
                parts.append(part)
            if not parts:  # everything stripped — keep the original result
                new_words.append(w)
                new_res.append(results[li][wi])
                continue
            for part in parts:
                text_chars: list[str] = []
                confs: list[float] = []
                for ci, kind in part:
                    if kind[0] == "c":
                        row = kind[2]
                        inter = float(cells_f[ci] @ t_clean[row])
                        union = float(cell_ink[ci]) + float(tmpl_ink[row]) - inter
                        text_chars.append(kind[1])
                        confs.append(inter / max(union, 1e-9))
                    else:  # "r"
                        text_chars.append(REPLACEMENT_CHAR)
                        confs.append(0.0)
                c0 = anchor + part[0][0] * ADV
                c1 = anchor + part[-1][0] * ADV + CELL_W - 1
                h_, w_ = mask.shape
                sl = mask[
                    max(line.top, 0) : min(line.bottom + 1, h_),
                    max(c0, 0) : min(c1 + 1, w_),
                ]
                ys, xs = np.nonzero(sl)
                if ys.size:
                    top = max(line.top, 0) + int(ys.min())
                    bottom = max(line.top, 0) + int(ys.max())
                    left = max(c0, 0) + int(xs.min())
                    right = max(c0, 0) + int(xs.max())
                else:
                    top, bottom, left, right = line.top, line.bottom, c0, c1
                new_words.append(
                    Word(left=left, top=top, right=right, bottom=bottom, pen_left=c0)
                )
                new_res.append(("".join(text_chars), float(np.mean(confs))))
        lines[li] = replace(line, words=new_words)
        results[li] = new_res
    return changed
