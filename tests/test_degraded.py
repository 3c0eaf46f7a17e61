"""Degraded-scan recovery tier (engine/recognize.py `_degraded_retry`).

The reference's fixtures are real photographs carrying optical blur
(test/small-frog.jpg — its trained LSTM absorbs the degradation
statistically). The deterministic analog here: a 3x3 box blur of a
two-level render binarizes to the count-threshold morphology
``3x3 ink count >= K`` of the clean mask, which the recognizer inverts
exactly via pre-degraded template banks + alignment search + verified
gap repair. These tests pin: byte-identical recovery, honest reduced
confidences, merged-word splitting, the unigram-prior collision
tie-break, the tier's premise (blurred cells miss every clean template),
and the thickness gate (clean/garbage pages never reach the tier).
"""

from __future__ import annotations

import numpy as np
import pytest

from tesseract_wasm_spark.engine.otsu import binarize
from tesseract_wasm_spark.engine.page import process_page
from tesseract_wasm_spark.engine.recognize import (
    DEGRADED_MIN_THICKNESS,
    stroke_thickness,
)
from tesseract_wasm_spark.fixtures import _seeded_lines, expected_text
from tesseract_wasm_spark.font import REPLACEMENT_CHAR
from tesseract_wasm_spark.raster import (
    degrade_boxblur,
    degrade_page_drf,
    render_page,
    render_page_drf,
)


@pytest.fixture
def tier_calls(monkeypatch):
    """One entry per page that reaches the degraded-scan tier: the line ids
    handed to it."""
    from tesseract_wasm_spark.engine import recognize

    calls = []
    real = recognize._degraded_retry

    def spy(mask, lines, remaining, results, **kw):
        calls.append(list(remaining))
        return real(mask, lines, remaining, results, **kw)

    monkeypatch.setattr(recognize, "_degraded_retry", spy)
    return calls


def test_blur_recovery_byte_identical_seeded_pages():
    rng = np.random.default_rng(23)
    for _ in range(15):
        lines = _seeded_lines(rng, int(rng.integers(3, 12)))
        payload = degrade_page_drf(render_page_drf(lines))
        res = process_page(payload, with_orientation=False)
        assert res.page_text == expected_text(lines)


def test_recovered_confidences_are_reduced_not_full():
    lines = _seeded_lines(np.random.default_rng(5), 5)
    res = process_page(degrade_page_drf(render_page_drf(lines)),
                       with_orientation=False)
    confs = [w.confidence for w in res.words]
    assert all(0.3 < c < 1.0 for c in confs)  # degraded, not exact, not garbage


def test_clean_page_confidences_stay_exact(tier_calls):
    lines = _seeded_lines(np.random.default_rng(5), 5)
    res = process_page(render_page_drf(lines), with_orientation=False)
    assert res.page_text == expected_text(lines)
    assert all(w.confidence == 1.0 for w in res.words)
    assert tier_calls == []


def test_merged_words_split_back_with_boxes():
    # blur bridges the inter-word gap after k/x final strokes ("look go",
    # "Spark at"); the gap cells are verified against the composed
    # degradation of the flanking glyphs and emitted as a space again
    pg = ["look go here", "Spark at dawn"]
    res = process_page(degrade_page_drf(render_page_drf(pg)),
                       with_orientation=False)
    assert res.page_text == expected_text(pg)
    texts = [w.text for w in res.words]
    assert texts == ["look", "go", "here", "Spark", "at", "dawn"]
    # boxes are disjoint and ordered within each line
    for a, b in [(0, 1), (1, 2), (3, 4), (4, 5)]:
        assert res.words[a].right < res.words[b].left


def test_unigram_prior_resolves_capital_I():
    # deg_3('I') == deg_3('E'): the cell alone cannot distinguish them; the
    # documented unigram prior picks 'I' (pronoun), mirroring the LM
    # tie-break of a trained recognizer's beam search
    pg = ["I am here", "so I went"]
    res = process_page(degrade_page_drf(render_page_drf(pg)),
                       with_orientation=False)
    assert res.page_text == expected_text(pg)


def test_degraded_cells_miss_clean_templates(tier_calls):
    # the tier's premise: blur moves the cells off every clean template key,
    # so the page reads only through the tier's degraded banks
    from tesseract_wasm_spark.engine.components import label_components
    from tesseract_wasm_spark.engine.recognize import (
        _extract_cells, _pack_keys, _template_keys,
    )
    from tesseract_wasm_spark.engine.segment import segment

    lines = _seeded_lines(np.random.default_rng(9), 4)
    mask = binarize(degrade_boxblur(render_page(lines, channels=1)))
    cells, _ = _extract_cells(mask, segment(label_components(mask)))
    tkeys, _ = _template_keys(None, "eng")
    assert not np.isin(_pack_keys(cells), tkeys).any()
    res = process_page(degrade_page_drf(render_page_drf(lines)),
                       with_orientation=False)
    assert res.page_text == expected_text(lines)
    assert len(tier_calls) == 1


def test_thickness_gate_separates_populations():
    lines = _seeded_lines(np.random.default_rng(3), 6)
    clean = binarize(render_page(lines, channels=1))
    blurred = binarize(degrade_boxblur(render_page(lines, channels=1)))
    assert stroke_thickness(clean) < DEGRADED_MIN_THICKNESS / 2
    assert stroke_thickness(blurred) > DEGRADED_MIN_THICKNESS * 2


def test_garbage_page_behavior_unchanged_by_tier(tier_calls):
    # speckle noise is thin: the thickness gate keeps the tier out, so the
    # graceful-degradation contract (replacement chars, low confidence) is
    # the clean recognizer's alone
    rng = np.random.default_rng(77)
    img = np.full((120, 300), 245, dtype=np.uint8)
    noise = rng.random((120, 300)) < 0.08
    img[noise] = 20
    mask = binarize(img[:, :, None])
    assert stroke_thickness(mask) < DEGRADED_MIN_THICKNESS
    from tesseract_wasm_spark import drf

    res = process_page(drf.encode(img[:, :, None]), with_orientation=False)
    assert tier_calls == []
    assert REPLACEMENT_CHAR in res.page_text
    assert all(w.confidence < 1.0 for w in res.words)


def test_double_blur_graceful_not_crashing():
    lines = _seeded_lines(np.random.default_rng(7), 5)
    payload = degrade_page_drf(render_page_drf(lines), passes=2)
    res = process_page(payload, with_orientation=False)
    assert res.error is None
    assert isinstance(res.page_text, str)


def test_spurious_shear_on_degraded_page_suppressed():
    # volume-soak regression (seed 31, page 1611): blur jitter made the
    # deskew fit read a 3-per-mille shear on an upright degraded page; the
    # unshear then split thickened glyphs across column-shift boundaries.
    # Tiny detections on a thick-stroke mask are treated as noise (genuine
    # skew fixtures measure 17-60 per-mille).
    rng = np.random.default_rng((31 << 32) | 1611)
    lines = _seeded_lines(rng, int(rng.integers(3, 12)))
    res = process_page(degrade_page_drf(render_page_drf(lines)),
                       with_orientation=False)
    assert res.skew_degrees == 0.0
    assert res.page_text == expected_text(lines)


def test_real_skew_still_applies_on_clean_pages():
    # the suppression is gated on stroke thickness AND |k|<=5: genuine
    # skewed clean scans keep byte-identical deskew extraction
    from tesseract_wasm_spark.fixtures import SMALL_PAGE_LINES

    res = process_page(render_page_drf(SMALL_PAGE_LINES, skew_per_mille=17),
                       with_orientation=False)
    assert res.skew_degrees != 0.0
    assert res.page_text == expected_text(SMALL_PAGE_LINES)


def test_extract_any_recovers_degraded_payloads(spark):
    # degraded DRF payloads flow through the unified dispatch unchanged —
    # the recovery tier lives inside the same ocr path every clean page uses
    from pyspark.sql import functions as F

    from tesseract_wasm_spark.fixtures import degraded_df
    from tesseract_wasm_spark.pipeline import extract_any

    pages = degraded_df(spark)
    out = extract_any(pages)
    agg = (
        pages.select("url", "text")
        .join(out, "url")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("text_out") == F.col("text"), 1).otherwise(0)).alias("ok"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        )
        .collect()[0]
    )
    assert agg["n"] == 23
    assert (agg["ok"], agg["errors"]) == (agg["n"], 0)


@pytest.mark.parametrize("preserve", ["0", "1"])
def test_preserve_interword_spaces_composes_with_recovery(preserve):
    pg = ["look go", "up  down"]  # double space survives only with preserve=1
    res = process_page(degrade_page_drf(render_page_drf(pg)),
                       with_orientation=False,
                       variables={"preserve_interword_spaces": preserve})
    lines = res.page_text.rstrip("\n").split("\n")
    assert lines[0] == "look go"
    assert lines[1] == ("up  down" if preserve == "1" else "up down")
