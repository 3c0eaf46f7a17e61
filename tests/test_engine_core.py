"""Pure-engine tests mirroring the reference suite's styles (SURVEY.md §5):
golden end-to-end, invariants, edge-case semantics, metamorphic orientation.
Reference analogs cited per test."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from tesseract_wasm_spark.engine.page import process_page, process_rgba
from tesseract_wasm_spark.fixtures import SMALL_PAGE_LINES, expected_text
from tesseract_wasm_spark.raster import (
    empty_page,
    expected_word_boxes,
    render_page,
    render_page_drf,
)


def test_small_page_text_byte_identical():
    # analog of reference goldens test/ocr-engine-test.js:197-206
    res = process_page(render_page_drf(SMALL_PAGE_LINES))
    assert res.error is None
    assert res.page_text == expected_text(SMALL_PAGE_LINES)


def test_small_page_counts_and_first_last():
    # reference pins word count / first / last (test/ocr-engine-test.js:190-193)
    res = process_page(render_page_drf(SMALL_PAGE_LINES))
    n_words_expected = sum(len(ln.split()) for ln in SMALL_PAGE_LINES)
    assert len(res.words) == n_words_expected
    assert res.words[0].text == "Image"
    assert res.words[-1].text == "applications"
    lines = {w.line_id for w in res.words}
    assert len(lines) == len(SMALL_PAGE_LINES)


def test_word_geometry_matches_layout_constants():
    """Boxes equal the rasterizer's analytically-derived geometry."""
    res = process_page(render_page_drf(SMALL_PAGE_LINES))
    expected = expected_word_boxes(SMALL_PAGE_LINES)
    assert len(res.words) == len(expected)
    for got, want in zip(res.words, expected):
        assert (got.left, got.top, got.right, got.bottom) == (
            want["left"], want["top"], want["right"], want["bottom"],
        ), (got.text, want["text"])
        assert got.text == want["text"]
        assert got.baseline == want["baseline"]


def test_box_invariants_within_bounds():
    # reference invariant style: test/ocr-engine-test.js:153-168
    res = process_page(render_page_drf(SMALL_PAGE_LINES))
    for w in res.words:
        assert 0 <= w.left < w.right <= res.width
        assert 0 <= w.top < w.bottom <= res.height
        assert 0.0 <= w.confidence <= 1.0


def test_flags_start_end_of_line():
    # reference: test/ocr-engine-test.js:231-269
    res = process_page(render_page_drf(SMALL_PAGE_LINES))
    by_line: dict[int, list] = {}
    for w in res.words:
        by_line.setdefault(w.line_id, []).append(w)
    for ws in by_line.values():
        assert ws[0].flags & 1
        assert ws[-1].flags & 2
        for mid in ws[1:-1]:
            assert mid.flags == 0
    starts = [w.text for w in res.words if w.flags & 1]
    assert starts == [ln.split()[0] for ln in SMALL_PAGE_LINES]
    ends = [w.text for w in res.words if w.flags & 2]
    assert ends == [ln.split()[-1] for ln in SMALL_PAGE_LINES]


@pytest.mark.parametrize("dims", [(1, 1), (100, 100), (200, 200)])
def test_empty_page_quirk(dims):
    # reference: test/ocr-engine-test.js:211-229 — 0 layout boxes, exactly one
    # OCR text box with all-zero rect and empty text
    res = process_rgba(empty_page(*dims))
    assert res.layout_boxes == []
    assert len(res.words) == 1
    w = res.words[0]
    assert (w.left, w.top, w.right, w.bottom) == (0, 0, 0, 0)
    assert w.text == ""
    assert res.page_text == ""


@pytest.mark.parametrize("rot", [0, 90, 180, 270])
def test_orientation_metamorphic(rot):
    # reference: test/ocr-engine-test.js:340-352
    res = process_rgba(render_page(SMALL_PAGE_LINES, rot=rot), with_text=False)
    assert res.rotation == rot
    assert res.orient_confidence == 1.0


def test_orientation_failure_on_empty():
    res = process_rgba(empty_page(64, 64), with_text=False)
    assert (res.rotation, res.orient_confidence) == (0, 0.0)


def test_layout_only_skips_recognition():
    res = process_page(render_page_drf(SMALL_PAGE_LINES), with_text=False)
    assert res.words == []
    assert len(res.layout_boxes) == sum(len(ln.split()) for ln in SMALL_PAGE_LINES)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1,
            max_size=12,
        ).map(lambda w: w.strip()).filter(bool),
        min_size=1,
        max_size=6,
    )
)
def test_property_roundtrip_arbitrary_ascii_words(words):
    """Property test: any printable-ASCII word sequence roundtrips
    byte-identically through render -> OCR."""
    lines = [" ".join(words)]
    res = process_page(render_page_drf(lines))
    assert res.page_text == expected_text(lines)


def test_skew_estimate_near_zero():
    """P3 analog (GetDeskewVectors — patches/tesseract.diff:118-119): the
    synthetic rasterizer produces skew-free pages; the estimate must agree."""
    res = process_page(render_page_drf(SMALL_PAGE_LINES))
    assert abs(res.skew_degrees) < 0.01


def _noisy(level: float) -> np.ndarray:
    rng = np.random.default_rng(4)
    img = render_page(SMALL_PAGE_LINES[:3]).copy()
    gray = img[..., 0].astype(np.int16)
    noise_mask = rng.random(gray.shape) < level
    gray[noise_mask] = 255 - gray[noise_mask]
    img[..., 0] = img[..., 1] = img[..., 2] = gray.astype(np.uint8)
    return img


def test_degraded_input_graceful():
    """Salt-and-pepper noise: despeckling keeps the line/word structure intact
    (word count unchanged) and recognition degrades to best-template guesses
    with confidence < 1 instead of failing (the reference's confidence
    semantics — lower x_wconf on poor scans, src/lib.cpp:302-304)."""
    want = {t for ln in SMALL_PAGE_LINES[:3] for t in ln.split()}
    n_words = sum(len(ln.split()) for ln in SMALL_PAGE_LINES[:3])

    light = process_rgba(_noisy(0.002))
    assert len(light.words) == n_words
    assert {w.text for w in light.words} == want  # fully recovered

    heavy = process_rgba(_noisy(0.02))  # 2% of pixels flipped
    assert heavy.error is None
    assert len(heavy.words) == n_words  # structure survives despeckle
    recovered = len({w.text for w in heavy.words} & want) / len(want)
    assert recovered == 1.0  # despeckle + pair-vote baseline + pen phase
    assert all(0.0 <= w.confidence <= 1.0 for w in heavy.words)
    assert any(w.confidence < 1.0 for w in heavy.words)

    extreme = process_rgba(_noisy(0.04))
    assert extreme.error is None  # graceful degradation, never a crash
    recovered = len({w.text for w in extreme.words} & want) / len(want)
    assert recovered > 0.3


@pytest.mark.parametrize("rot", [0, 90, 180, 270])
def test_orientation_metamorphic_large_page(rot):
    """Large pages take the bounded center-band path (orientation cost is
    constant in page size); detection must still be exact."""
    lines = SMALL_PAGE_LINES * 6  # 60 lines -> height > crop trigger
    res = process_rgba(render_page(lines, rot=rot), with_text=False)
    assert res.rotation == rot
    assert res.orient_confidence == 1.0


@pytest.mark.parametrize("recognizer", ["template", "lstm"])
def test_recognition_leaves_the_layout_as_it_was(recognizer):
    """Recognition re-anchors all-descender lines and re-splits degraded
    words into copies, never into the layout's own lines, so a layout
    recognized twice reads the same both times and as process_rgba reads."""
    import copy  # noqa: PLC0415

    from tesseract_wasm_spark import drf  # noqa: PLC0415
    from tesseract_wasm_spark.engine.page import layout_stage, recognition_stage  # noqa: PLC0415
    from tesseract_wasm_spark.fixtures import degraded_rows  # noqa: PLC0415

    pages = [render_page(["gjq pygj jjj", "normal line here"])]
    for row in degraded_rows(20):
        try:
            pages.append(drf.decode(row["html"]))
        except ValueError:  # the corpus's malformed payloads
            pass
    rewritten = 0
    for rgba in pages:
        layout = layout_stage(rgba)
        before = copy.deepcopy(layout.lines)
        first = recognition_stage(layout, layout.result, recognizer=recognizer)
        assert layout.lines == before
        assert recognition_stage(layout, layout.result, recognizer=recognizer) == first
        assert process_rgba(rgba, with_orientation=False, recognizer=recognizer) == first
        rewritten += any(w.baseline != layout.lines[w.line_id].baseline for w in first.words) or (
            [(w.left, w.top, w.right, w.bottom) for w in first.words]
            != [box[:4] for box in layout.result.layout_boxes])
    # the descender line for both; the degraded tier (template only) on most pages
    assert rewritten > (len(pages) // 2 if recognizer == "template" else 0)


def test_perfbench_times_every_engine_stage():
    """perfbench's engine trace patches the stage functions where page.py
    looks them up: every stage shows time, and a clean page, a sheared
    two-column page and a 60-line page make 1, 2 and 1 labeling passes."""
    from perfbench.layers import UNITS, engine_stages  # noqa: PLC0415

    from tesseract_wasm_spark.fixtures import TWO_COL_LINES  # noqa: PLC0415
    from tesseract_wasm_spark.raster import render_columns_drf  # noqa: PLC0415

    metrics = engine_stages([
        render_page_drf(SMALL_PAGE_LINES),
        render_columns_drf(TWO_COL_LINES, skew_per_mille=21),
        render_page_drf((SMALL_PAGE_LINES * 6)[:60]),
    ])
    ms = {k: v for k, v in metrics.items() if k.startswith("engine.") and UNITS[k] == "ms"}
    assert len(ms) == 8 and all(v > 0 for v in ms.values()), ms
    assert metrics["engine.components.calls_per_page"] == 4 / 3
