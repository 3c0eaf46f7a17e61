"""API-parity tests — the reference's error-path and behavioral protocol
suites (test/ocr-engine-test.js:63-138, 309-363) ported call-for-call."""

from __future__ import annotations

import numpy as np
import pytest

from tesseract_wasm_spark import drf
from tesseract_wasm_spark.api import createOCREngine
from tesseract_wasm_spark.fixtures import (
    SMALL_PAGE_LINES, TWO_COL_LINES, degraded_rows, expected_text,
)
from tesseract_wasm_spark.font import export_model
from tesseract_wasm_spark.raster import empty_page, render_columns, render_page

MODEL = export_model()


@pytest.fixture()
def engine():
    return createOCREngine()


@pytest.fixture()
def loaded(engine):
    engine.loadModel(MODEL)
    engine.loadImage(render_page(SMALL_PAGE_LINES))
    return engine


def test_image_errors_before_load(engine):
    # reference: "No image loaded" (src/ocr-engine.ts:323)
    engine.loadModel(MODEL)
    with pytest.raises(ValueError, match="No image loaded"):
        engine.getText()
    with pytest.raises(ValueError, match="No image loaded"):
        engine.getBoundingBoxes("word")


def test_model_errors_before_load(engine):
    # reference: "No text recognition model loaded" (src/ocr-engine.ts:317)
    engine.loadImage(render_page(SMALL_PAGE_LINES))
    with pytest.raises(ValueError, match="No text recognition model loaded"):
        engine.getText()
    with pytest.raises(ValueError, match="No text recognition model loaded"):
        engine.getTextBoxes("word")
    # but layout-only works with no model (reference: test/ocr-engine-test.js:174-182)
    assert len(engine.getBoundingBoxes("word")) > 0


def test_model_validation(engine):
    """The reference rejects malformed traineddata with 'Text recognition
    model failed to load' (src/ocr-engine.ts:152-165); our blob is validated
    the same way (magic + language + checksum)."""
    for bad in (b"", b"garbage bytes", b"TWSM1\x03engXXXX", MODEL[:-1] + b"\x00"):
        with pytest.raises(ValueError, match="Text recognition model failed to load"):
            engine.loadModel(bad)
    engine.loadModel(MODEL)  # valid blob loads fine


def test_model_selects_language(engine):
    """Loading the 'deu' model makes the sequential engine read umlauts —
    the API-level form of the pipeline's per-row lang dispatch."""
    from tesseract_wasm_spark.fixtures import DEU_PAGE_LINES

    lines = DEU_PAGE_LINES[1]
    engine.loadImage(render_page(lines, lang="deu"))
    engine.loadModel(export_model("deu"))
    assert engine.getText() == expected_text(lines)
    # switching back to eng changes recognition (umlauts unreadable)
    engine.loadModel(MODEL)
    assert engine.getText() != expected_text(lines)


def test_bad_image_data_messages(engine):
    # reference: test/ocr-engine-test.js:63-85
    with pytest.raises(ValueError, match="Image data length does not match width/height"):
        engine.loadImage({"data": b"0123456789", "width": 100, "height": 100})
    with pytest.raises(ValueError, match="Image width or height is zero"):
        engine.loadImage({"data": b"", "width": 0, "height": 100})


def test_oversized_image_data_accepted(engine):
    # the reference rejects only too-short buffers (src/ocr-engine.ts:179-181
    # checks `data.length < width*height*4`); an oversized ImageData loads and
    # the first w*h*4 bytes are used
    img = render_page(SMALL_PAGE_LINES[:2])
    h, w = img.shape[:2]
    padded = img.tobytes() + b"\xff" * 64
    engine.loadImage({"data": padded, "width": w, "height": h})
    engine.loadModel(MODEL)
    assert engine.getText() == expected_text(SMALL_PAGE_LINES[:2])


def test_invalid_text_unit(loaded):
    # reference: "Invalid text unit" (src/ocr-engine.ts:335)
    with pytest.raises(ValueError, match="Invalid text unit"):
        loaded.getTextBoxes("paragraph")


def test_variable_roundtrip_and_unknown(engine):
    # reference: test/ocr-engine-test.js:131-138 (user_defined_dpi round-trip)
    assert engine.getVariable("user_defined_dpi") == "300"
    engine.setVariable("user_defined_dpi", "150")
    assert engine.getVariable("user_defined_dpi") == "150"
    with pytest.raises(ValueError, match="Unable to get variable nope"):
        engine.getVariable("nope")
    with pytest.raises(ValueError, match="Unable to set variable nope"):
        engine.setVariable("nope", "1")


def test_get_text_golden(loaded):
    assert loaded.getText() == expected_text(SMALL_PAGE_LINES)


def test_progress_protocol(loaded):
    # reference: monotone, ends with 100; memoized re-run emits exactly [100]
    # (test/ocr-engine-test.js:309-338; src/lib.cpp:325-336)
    seen: list[int] = []
    loaded.getText(seen.append)
    assert seen == sorted(seen)
    assert seen[-1] == 100
    again: list[int] = []
    loaded.getText(again.append)
    assert again == [100]


def test_clear_image_invalidation(loaded):
    # reference: test/ocr-engine-test.js:354-363
    assert loaded.getText() != ""
    loaded.clearImage()
    with pytest.raises(ValueError, match="No image loaded"):
        loaded.getText()


def test_load_image_resets_results(loaded):
    t1 = loaded.getText()
    loaded.loadImage(render_page(["different words now"]))
    t2 = loaded.getText()
    assert t1 != t2
    assert t2 == "different words now\n"


def test_text_boxes_units(loaded):
    words = loaded.getTextBoxes("word")
    lines = loaded.getTextBoxes("line")
    assert len(lines) == len(SMALL_PAGE_LINES)
    assert len(words) == sum(len(ln.split()) for ln in SMALL_PAGE_LINES)
    assert words[0]["text"] == "Image"
    assert lines[0]["text"] == SMALL_PAGE_LINES[0] + "\n"
    # mean confidence ~1.0 on clean renders (reference asserts ~0.95 on scans)
    confs = [w["confidence"] for w in words]
    assert np.mean(confs) == 1.0


def test_hocr_snippets(loaded):
    # reference: test/ocr-engine-test.js:296-307
    html = loaded.getHOCR()
    assert "class='ocr_page' id='page_1'" in html
    assert "<span class='ocrx_word' id='word_1_1'" in html
    assert "x_wconf 100'>Image</span>" in html
    assert "<span class='ocr_line' id='line_1_5'" in html
    assert "ocr_carea" in html and "ocr_par" in html


def test_orientation_api(loaded):
    assert loaded.getOrientation() == {"rotation": 0, "confidence": 1.0}


@pytest.fixture()
def orientation_calls(monkeypatch):
    """Counts orientation passes (page.py looks the function up per call)."""
    from tesseract_wasm_spark.engine import orientation  # noqa: PLC0415

    calls = []
    real = orientation.orientation_scores

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(orientation, "orientation_scores", spy)
    return calls


@pytest.mark.parametrize("n_lines", [10, 60])  # 60 lines: the center-band path
@pytest.mark.parametrize("rot", [0, 90, 180, 270])
def test_orientation_lazy_on_rotated_pages(engine, orientation_calls, rot, n_lines):
    engine.loadModel(MODEL)
    engine.loadImage(render_page((SMALL_PAGE_LINES * 6)[:n_lines], rot=rot))
    engine.getText()
    engine.getTextBoxes("word")
    engine.getBoundingBoxes("line")
    assert orientation_calls == []  # text and layout never run orientation
    want = {"rotation": rot, "confidence": 1.0}
    assert engine.getOrientation() == want
    assert engine.getOrientation() == want
    assert len(orientation_calls) == 1  # memoized


def test_orientation_memo_invalidation(engine, orientation_calls):
    engine.loadImage(render_page(SMALL_PAGE_LINES))
    assert engine.getOrientation() == {"rotation": 0, "confidence": 1.0}
    engine.loadModel(MODEL)  # the model does not change orientation
    engine.getOrientation()
    assert len(orientation_calls) == 1
    # variables change recognition only: the orientation memo stands
    engine.setVariable("tessedit_char_whitelist", "abc")
    assert engine.getOrientation() == {"rotation": 0, "confidence": 1.0}
    assert len(orientation_calls) == 1
    engine.loadImage(render_page(SMALL_PAGE_LINES, rot=90))
    assert engine.getOrientation() == {"rotation": 90, "confidence": 1.0}
    assert len(orientation_calls) == 2
    engine.clearImage()
    with pytest.raises(ValueError, match="No image loaded"):
        engine.getOrientation()


@pytest.fixture()
def binarize_calls(monkeypatch):
    """Counts layout passes (the layout stage looks binarize up in page.py)."""
    from tesseract_wasm_spark.engine import page  # noqa: PLC0415

    calls = []
    real = page.binarize

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(page, "binarize", spy)
    return calls


def test_one_layout_pass_per_loaded_image(engine, binarize_calls, orientation_calls):
    """Layout runs once per loaded image, whatever the queries; loadImage and
    clearImage drop every memo, loadModel and setVariable only recognition
    (its progress runs [0, 50, 100] again)."""
    engine.loadImage(render_page(SMALL_PAGE_LINES))
    engine.getBoundingBoxes("word")
    engine.getOrientation()
    engine.loadModel(MODEL)
    seen: list[int] = []
    assert engine.getText(seen.append) == expected_text(SMALL_PAGE_LINES)
    engine.getHOCR(seen.append)
    assert seen == [0, 50, 100, 100]
    engine.setVariable("tessedit_char_whitelist", "abcdefghijklmnopqrstuvwxyz ")
    seen.clear()
    assert engine.getText(seen.append) != expected_text(SMALL_PAGE_LINES)
    engine.loadModel(MODEL)
    engine.getTextBoxes("word", seen.append)
    engine.getBoundingBoxes("line")
    assert seen == [0, 50, 100, 0, 50, 100]
    assert engine.getOrientation() == {"rotation": 0, "confidence": 1.0}
    assert len(binarize_calls) == 1 and len(orientation_calls) == 1

    engine.loadImage(render_page(SMALL_PAGE_LINES, rot=90))
    assert engine.getOrientation() == {"rotation": 90, "confidence": 1.0}
    engine.getText()
    assert len(binarize_calls) == 2 and len(orientation_calls) == 2
    engine.clearImage()
    with pytest.raises(ValueError, match="No image loaded"):
        engine.getBoundingBoxes("word")
    engine.loadImage(render_page(SMALL_PAGE_LINES))
    engine.getBoundingBoxes("word")
    engine.getOrientation()
    seen.clear()
    engine.getText(seen.append)
    assert seen == [0, 50, 100]
    assert len(binarize_calls) == 3 and len(orientation_calls) == 3


def test_bounding_boxes_line_unit(loaded):
    lines = loaded.getBoundingBoxes("line")
    assert len(lines) == len(SMALL_PAGE_LINES)
    words = loaded.getBoundingBoxes("word")
    assert len(words) == sum(len(ln.split()) for ln in SMALL_PAGE_LINES)
    # line boxes are unions of their word boxes
    for ln in lines:
        assert ln["rect"]["left"] < ln["rect"]["right"]
        assert ln["rect"]["top"] < ln["rect"]["bottom"]


def test_line_boxes_before_ocr_keep_columns(engine):
    # before OCR the line rects come from the segmentation's own lines, so a
    # two-column page gives one rect per column line, as after recognition
    engine.loadModel(MODEL)
    engine.loadImage(render_columns(TWO_COL_LINES))
    before = engine.getBoundingBoxes("line")
    engine.getText()
    after = engine.getBoundingBoxes("line")
    assert len(before) == len(TWO_COL_LINES[0]) + len(TWO_COL_LINES[1])
    assert before == after


@pytest.mark.parametrize("page", ["clean", "degraded", "empty"])
def test_boxes_after_ocr_come_from_recognition(engine, page):
    # reference: getBoundingBoxes after OCR returns OCR-quality boxes
    # (src/ocr-engine.ts:236-239); the degraded-scan tier re-aligns and
    # splits words, so its boxes differ from the segmentation's
    engine.loadModel(MODEL)
    if page == "clean":
        engine.loadImage(render_page(SMALL_PAGE_LINES))
    elif page == "empty":
        engine.loadImage(drf.encode(empty_page(100, 100)))
    else:
        # 10 recognized words from 7 segmentation boxes
        row = next(r for r in degraded_rows(0) if r["url"].endswith("/merge-kx"))
        engine.loadImage(row["html"])
    # the empty-page quirk row (test/ocr-engine-test.js:211-229) is a text
    # box only
    t_words = [
        w for w in engine.getTextBoxes("word") if w["text"] or w["rect"]["right"]
    ]
    l_words = engine.getBoundingBoxes("word")
    assert len(t_words) == len(l_words)
    assert [w["rect"] for w in t_words] == [w["rect"] for w in l_words]
    t_lines = [
        ln for ln in engine.getTextBoxes("line") if ln["text"] or ln["rect"]["right"]
    ]
    assert [ln["rect"] for ln in t_lines] == [
        ln["rect"] for ln in engine.getBoundingBoxes("line")
    ]
