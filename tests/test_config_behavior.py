"""P11 behavioral tests: config variables must CHANGE engine output, not just
round-trip (reference: setVariable feeds Tesseract's live parameter store,
src/lib.cpp:150-170; round-trip shape pinned separately in test_api.py)."""

from __future__ import annotations

import numpy as np
import pytest

from tesseract_wasm_spark.api import createOCREngine
from tesseract_wasm_spark.engine.page import process_rgba
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
    # an absurd margin forces the up-vs-left tie branch -> sideways verdict,
    # proving the knob reaches the decision tree
    forced = process_rgba(img, variables={"twspark_orientation_margin": "1e9"})
    assert forced.rotation in (90, 270)


def test_min_partial_overlap_threshold():
    img = render_page(["Hi there"])
    g = img[..., 0].copy()
    # degrade one glyph: erase a couple of ink pixels inside the first cell
    ys, xs = np.where(g < 128)
    for i in range(2):
        g[ys[i], xs[i]] = 245
    rgba = np.stack([g, g, g, np.full_like(g, 255)], axis=-1)
    lenient = process_rgba(rgba, variables={"twspark_min_partial_overlap": "0.3"})
    strict = process_rgba(rgba, variables={"twspark_min_partial_overlap": "0.999"})
    assert REPLACEMENT_CHAR not in lenient.page_text
    assert REPLACEMENT_CHAR in strict.page_text


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
