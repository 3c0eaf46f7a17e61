"""P11 behavioral tests: config variables must CHANGE engine output, not just
round-trip (reference: setVariable feeds Tesseract's live parameter store,
src/lib.cpp:150-170; round-trip shape pinned separately in test_api.py), and
the engine's fixed thresholds must act where they are documented to."""

from __future__ import annotations

import numpy as np
import pytest

from tesseract_wasm_spark.api import createOCREngine
from tesseract_wasm_spark.engine.orientation import DECISION_MARGIN, decide_orientation
from tesseract_wasm_spark.engine.page import process_rgba
from tesseract_wasm_spark.engine.recognize import MIN_PARTIAL_OVERLAP
from tesseract_wasm_spark.font import REPLACEMENT_CHAR
from tesseract_wasm_spark.raster import render_page
from tesseract_wasm_spark.font import export_model


def _engine(img):
    eng = createOCREngine()
    eng.loadModel(export_model())
    eng.loadImage(img)
    return eng


def test_whitelist_restricts_emit_alphabet():
    img = render_page(["Hello 123 world 456"])
    eng = _engine(img)
    assert eng.getText() == "Hello 123 world 456\n"
    eng.setVariable("tessedit_char_whitelist", "0123456789")
    out = eng.getText()
    allowed = set("0123456789 \n") | {REPLACEMENT_CHAR}
    assert set(out) <= allowed, out
    assert "123" in out and "456" in out  # digits still read exactly
    assert "Hello" not in out
    # clearing the whitelist restores full recognition (memoization must
    # have been invalidated by setVariable)
    eng.setVariable("tessedit_char_whitelist", "")
    assert eng.getText() == "Hello 123 world 456\n"


def test_whitelist_via_process_rgba_and_lstm():
    img = render_page(["ab 12"])
    v = {"tessedit_char_whitelist": "12ab"}
    assert process_rgba(img, variables=v).page_text == "ab 12\n"
    v = {"tessedit_char_whitelist": "12"}
    out = process_rgba(img, variables=v).page_text
    assert set(out) <= set("12 \n") | {REPLACEMENT_CHAR}
    lstm_out = process_rgba(img, variables=v, recognizer="lstm").page_text
    assert set(lstm_out) <= set("12 \n") | {REPLACEMENT_CHAR}
    assert "12" in out and "12" in lstm_out


def test_preserve_interword_spaces():
    img = render_page(["a  b   c", "normal line"])
    eng = _engine(img)
    # default: gaps normalize to a single space
    assert eng.getText() == "a b c\nnormal line\n"
    eng.setVariable("preserve_interword_spaces", "1")
    assert eng.getText() == "a  b   c\nnormal line\n"


def test_orientation_margin_is_consumed():
    img = render_page(["The quick brown fox jumps over the lazy dog"] * 4)
    base = process_rgba(img)
    assert (base.rotation, base.orient_confidence) == (0, 1.0)
    assert abs(base.up_conf) - abs(base.left_conf) > DECISION_MARGIN
    # the up axis decides only when it leads by MORE than the reference's
    # literal margin (src/lib.cpp:280); at the margin the left axis decides
    assert DECISION_MARGIN == 5.0
    assert decide_orientation(1.0 + DECISION_MARGIN, 1.0) == (90, 1.0)
    assert decide_orientation(1.5 + DECISION_MARGIN, 1.0) == (0, 1.0)
    assert decide_orientation(-1.5 - DECISION_MARGIN, 1.0) == (180, 1.0)
    assert decide_orientation(1.0 + DECISION_MARGIN, -1.0) == (270, 1.0)


def test_min_partial_overlap_threshold():
    """A cell that matches no template reads as its nearest glyph while its
    Jaccard overlap is at least MIN_PARTIAL_OVERLAP, and as the replacement
    char below it."""
    img = render_page(["Hi there"])
    g = img[..., 0].copy()
    ys, xs = np.where(g < 128)
    in_h = xs < xs.min() + 5  # the ink of the first glyph cell, "H"

    def erase(n):
        g2 = g.copy()
        g2[ys[in_h][:n], xs[in_h][:n]] = 245
        res = process_rgba(np.stack([g2, g2, g2, np.full_like(g2, 255)], axis=-1))
        # word confidence = mean over its cells; "i" still matches exactly
        return res.page_text, 2 * res.words[0].confidence - 1.0

    text, overlap = erase(8)
    assert text == "Hi there\n"
    assert MIN_PARTIAL_OVERLAP <= overlap < 1.0
    text, overlap = erase(10)
    assert text == REPLACEMENT_CHAR + "i there\n"
    assert overlap < MIN_PARTIAL_OVERLAP


def test_pipeline_threads_variables(spark):
    from tesseract_wasm_spark.fixtures import PAGES_DDL
    from tesseract_wasm_spark.outputs import page_text_df
    from tesseract_wasm_spark.pipeline import ocr_pages
    from tesseract_wasm_spark.raster import render_page_drf

    import datetime as dt
    import pandas as pd

    rows = pd.DataFrame([
        {"url": "u1", "warc_ts": dt.datetime(2024, 1, 1), "html": render_page_drf(["x  y"]),
         "text": "x  y\n", "lang": "eng"},
    ])
    pages = spark.createDataFrame(rows, schema=PAGES_DDL)
    plain = page_text_df(ocr_pages(pages)).collect()[0]["text_out"]
    kept = page_text_df(
        ocr_pages(pages, variables={"preserve_interword_spaces": "1"})
    ).collect()[0]["text_out"]
    assert plain == "x y\n"
    assert kept == "x  y\n"
    # unknown variable fails fast on the driver with the reference message
    with pytest.raises(ValueError, match="Unable to set variable nope"):
        ocr_pages(pages, variables={"nope": "1"})


def test_extract_any_threads_variables(spark):
    """extract_any's OCR branch takes the same validated variables as
    ocr_pages, and an unknown name fails the call on the driver."""
    from tesseract_wasm_spark.fixtures import PAGES_DDL
    from tesseract_wasm_spark.pipeline import extract_any
    from tesseract_wasm_spark.raster import render_page_drf

    import datetime as dt
    import pandas as pd

    rows = pd.DataFrame([
        {"url": "u1", "warc_ts": dt.datetime(2024, 1, 1), "html": render_page_drf(["x  y"]),
         "text": "x  y\n", "lang": "eng"},
    ])
    pages = spark.createDataFrame(rows, schema=PAGES_DDL)
    plain = extract_any(pages).collect()
    kept = extract_any(pages, variables={"preserve_interword_spaces": "1"}).collect()
    assert [(r["kind"], r["text_out"]) for r in plain] == [("ocr", "x y\n")]
    assert [(r["kind"], r["text_out"]) for r in kept] == [("ocr", "x  y\n")]
    with pytest.raises(ValueError, match="Unable to set variable nope"):
        extract_any(pages, variables={"nope": "1"})
