"""P5 v2 tests: LSTM+CTC recognizer agrees with the primary template matcher
(reference architecture: LSTM over line x-strips + CTC decode —
src/lib.cpp:325-336; SURVEY.md §2.2 P5)."""

from __future__ import annotations

import numpy as np
import pytest

from tesseract_wasm_spark.engine.lstm_ctc import build_recognizer, ctc_best_path
from tesseract_wasm_spark.engine.page import process_rgba
from tesseract_wasm_spark.fixtures import SMALL_PAGE_LINES, _seeded_lines, expected_text
from tesseract_wasm_spark.raster import render_page


def test_lstm_best_path_byte_identical():
    img = render_page(SMALL_PAGE_LINES)
    assert process_rgba(img, recognizer="lstm").page_text == expected_text(SMALL_PAGE_LINES)


def test_lstm_agrees_with_template_matcher_on_corpus():
    rng = np.random.default_rng(11)
    for _ in range(4):
        lines_txt = _seeded_lines(rng, int(rng.integers(3, 9)))
        img = render_page(lines_txt)
        via_lstm = process_rgba(img, recognizer="lstm").page_text
        via_templates = process_rgba(img).page_text
        assert via_lstm == via_templates == expected_text(lines_txt)


def test_lstm_all_descender_baseline_retry():
    """A line whose glyphs are all descenders (gjpqy) anchors the baseline
    DESC_ROWS low; the LSTM path retries 3 rows up exactly like the template
    path (recognize.py:181-201) and both stay byte-identical."""
    lines_txt = ["gjq pygj jjj", "normal line here"]
    img = render_page(lines_txt)
    assert process_rgba(img, recognizer="lstm").page_text == expected_text(lines_txt)
    # parity with the template path on the same page
    assert process_rgba(img).page_text == expected_text(lines_txt)


def test_ctc_decoders_basic():
    # logits: T=6 frames, 3 classes (0, 1, blank=2)
    big, small = 10.0, -10.0
    logits = np.full((6, 3), small)
    for t, c in enumerate([0, 2, 0, 0, 2, 1]):
        logits[t, c] = big
    assert ctc_best_path(logits, blank=2) == [0, 0, 1]  # collapse repeats, drop blanks


def test_constructed_logits_are_negative_hamming():
    """logit(char) == -hamming(window, template) at aligned frames (×alpha)."""
    lstm, w_out, b_out, chars = build_recognizer()
    from tesseract_wasm_spark.font import CELL_H, CELL_W, glyph_table

    cell = glyph_table()["A"].astype(float)
    x = cell.T  # feed columns 0..4
    h = lstm.forward(x)
    logits = h[-1] @ w_out + b_out
    ai = chars.index("A")
    assert logits[ai] == pytest.approx(0.0, abs=1e-6)  # exact match
    others = np.delete(logits[: len(chars)], ai)
    assert others.max() < -0.9  # any other template >= 1 bit away
    assert logits[len(chars)] == pytest.approx(-0.5)  # blank between the two


def test_lstm_full_pageresult_parity():
    """recognizer='lstm' produces the SAME words/boxes/flags as the template
    path on clean pages, with CTC-derived confidences in (0, 1]."""
    from tesseract_wasm_spark.raster import render_page_drf
    from tesseract_wasm_spark.engine.page import process_page

    payload = render_page_drf(SMALL_PAGE_LINES[:4])
    a = process_page(payload)  # template recognizer
    b = process_page(payload, recognizer="lstm")
    assert b.page_text == a.page_text
    assert len(b.words) == len(a.words)
    for wa, wb in zip(a.words, b.words):
        assert (wa.left, wa.top, wa.right, wa.bottom, wa.flags, wa.text) == (
            wb.left, wb.top, wb.right, wb.bottom, wb.flags, wb.text,
        )
        assert 0.0 < wb.confidence <= 1.0


def _blob_without(char: str) -> bytes:
    """A checksum-valid eng TWSM2 blob whose output bias bans ``char``: a
    decode that runs from this blob's weights can never emit it."""
    from tesseract_wasm_spark.engine import lstm_ctc as L

    lang, (lstm, w_out, b_out, chars) = L.parse_lstm_model(L.export_lstm_model("eng"))
    b_bad = b_out.copy()
    b_bad[chars.index(char)] = -1e30
    return L._pack_lstm_model(lang, chars, lstm.w_x, lstm.w_h, lstm.b, w_out, b_bad)


def test_lstm_weight_blob_round_trip_and_tamper():
    """TWSM2 trained-weight blob: export -> parse returns equal tensors;
    recognition from the parsed weights (``lstm_model=``) is byte-identical;
    a (checksum-valid) blob with perturbed output biases CHANGES recognition
    — proving the decode really runs from the blob's weights — and
    corrupt/truncated blobs are rejected."""
    import numpy as np
    import pytest

    from tesseract_wasm_spark.engine import lstm_ctc as L
    from tesseract_wasm_spark.engine.page import process_page
    from tesseract_wasm_spark.raster import render_page_drf
    from tests.test_lstm_ctc import SMALL_PAGE_LINES  # self-import: constants

    payload = render_page_drf(SMALL_PAGE_LINES[:3])
    baseline = process_page(payload, recognizer="lstm").page_text
    assert baseline

    blob = L.export_lstm_model("eng")
    lang, (lstm, w_out, b_out, chars) = L.parse_lstm_model(blob)
    ref = L.build_recognizer("eng")
    assert lang == "eng" and chars == ref[3]
    np.testing.assert_array_equal(lstm.w_x, ref[0].w_x)
    np.testing.assert_array_equal(w_out, ref[1])
    assert process_page(payload, recognizer="lstm",
                        lstm_model=L.parse_lstm_model(blob)[1]).page_text == baseline

    # tamper legally (repack with a valid checksum): ban the most common
    # char by output bias -> decode must change if blob weights are used
    banned = baseline.replace("\n", " ").split(" ")[0][0]
    tampered = process_page(payload, recognizer="lstm",
                            lstm_model=L.parse_lstm_model(_blob_without(banned))[1]).page_text
    assert banned not in tampered and tampered != baseline
    assert process_page(payload, recognizer="lstm").page_text == baseline

    # integrity: one flipped byte in the body -> checksum mismatch
    corrupt = bytearray(blob)
    corrupt[-1] ^= 0xFF
    with pytest.raises(ValueError):
        L.parse_lstm_model(bytes(corrupt))
    with pytest.raises(ValueError):
        L.parse_lstm_model(blob[: len(blob) // 2])


def test_load_model_accepts_weight_blob():
    """OCREngine.loadModel validates TWSM2 blobs and selects their language,
    leaves no process-global weights behind (a tampered blob loaded by one
    engine must not change a later lstm decode anywhere in the process), and
    still rejects garbage with the reference's message."""
    import pytest

    from tesseract_wasm_spark.api import ERR_MODEL_LOAD, OCREngine
    from tesseract_wasm_spark.engine import lstm_ctc as L
    from tesseract_wasm_spark.engine.page import process_page
    from tesseract_wasm_spark.raster import render_page_drf

    eng = OCREngine()
    eng.loadModel(L.export_lstm_model("deu"))
    assert eng._lang == "deu"

    payload = render_page_drf(SMALL_PAGE_LINES[:3])
    baseline = process_page(payload, recognizer="lstm").page_text
    OCREngine().loadModel(_blob_without("e"))
    assert process_page(payload, recognizer="lstm").page_text == baseline

    with pytest.raises(ValueError, match=ERR_MODEL_LOAD):
        OCREngine().loadModel(b"TWSM2 garbage after the magic")


def test_engine_recognizes_from_loaded_weight_blob():
    """While a TWSM2 blob is loaded, OCREngine recognizes with the lstm
    recognizer from the blob's weights: a blob that bans 'e' reads no 'e',
    the clean blob gives the lstm path's CTC confidences, and a glyph model
    (TWSM1) brings the template recognizer back."""
    from tesseract_wasm_spark.api import OCREngine
    from tesseract_wasm_spark.engine import lstm_ctc as L
    from tesseract_wasm_spark.engine.page import process_page
    from tesseract_wasm_spark.font import export_model
    from tesseract_wasm_spark.raster import render_page_drf

    payload = render_page_drf(SMALL_PAGE_LINES[:3])
    eng = OCREngine()
    eng.loadImage(payload)
    bad = _blob_without("e")
    eng.loadModel(bad)
    want = process_page(payload, recognizer="lstm", lstm_model=L.parse_lstm_model(bad)[1])
    assert eng.getText() == want.page_text and "e" not in want.page_text

    eng.loadModel(L.export_lstm_model("eng"))
    lstm = process_page(payload, recognizer="lstm")
    assert eng.getText() == lstm.page_text
    assert [w["confidence"] for w in eng.getTextBoxes("word")] == [
        w.confidence for w in lstm.words]
    assert any(w.confidence < 1.0 for w in lstm.words)

    eng.loadModel(export_model("eng"))
    assert [w["confidence"] for w in eng.getTextBoxes("word")] == [
        w.confidence for w in process_page(payload).words]


def test_model_blob_flows_to_workers(spark):
    """Distributed trained-weight path: ocr_pages(model_blob=...) ships the
    TWSM2 blob's parsed weights to every task — proven by a tampered blob
    (one output bias banned) changing the distributed extraction, while the
    clean blob reproduces the constructed weights byte-identically."""
    import pytest

    from tesseract_wasm_spark.engine import lstm_ctc as L
    from tesseract_wasm_spark.fixtures import fixtures_df
    from tesseract_wasm_spark.pipeline import ocr_pages

    pages = fixtures_df(spark, n_corpus_pages=2).filter(
        "url LIKE '%page-0000%'"
    )
    def texts(**kw):
        rows = ocr_pages(pages, recognizer="lstm", with_orientation=False, **kw)
        return {r["url"]: r["page_text"] for r in rows.collect()}

    base = texts()
    blob = L.export_lstm_model("eng")
    assert texts(model_blob=blob) == base
    tampered = texts(model_blob=_blob_without("e"))
    assert tampered != base
    assert all("e" not in t for t in tampered.values())
    # driver-side validation: a corrupt blob fails the CALL, not the tasks
    with pytest.raises(ValueError):
        ocr_pages(pages, recognizer="lstm", model_blob=blob[:-3])


def test_model_blob_flows_through_extract_any(spark):
    """extract_any's OCR branch takes the same engine settings as ocr_pages:
    a tampered TWSM2 blob changes the ocr-kind text_out exactly as it
    changes ocr_pages' page_text, and leaves the pdf and html rows alone."""
    from tesseract_wasm_spark.fixtures import fixtures_df
    from tesseract_wasm_spark.pipeline import extract_any, ocr_pages

    pages = fixtures_df(spark, n_corpus_pages=1).filter(
        "url LIKE '%page-00000' OR url LIKE '%/pdf-0' OR url LIKE '%/html-0'"
    )
    bad = _blob_without("e")

    def extracted(**kw):
        return {r["url"]: (r["kind"], r["text_out"])
                for r in extract_any(pages, recognizer="lstm", **kw).collect()}

    base, tampered = extracted(), extracted(model_blob=bad)
    assert sorted(k for k, _ in base.values()) == ["html", "ocr", "pdf"]
    ocr_url = next(u for u, (k, _) in base.items() if k == "ocr")
    assert {u: v for u, v in tampered.items() if u != ocr_url} == {
        u: v for u, v in base.items() if u != ocr_url}
    assert tampered[ocr_url][1] != base[ocr_url][1]
    assert "e" not in tampered[ocr_url][1]
    via_ocr_pages = ocr_pages(pages.filter(pages.url == ocr_url), recognizer="lstm",
                              with_orientation=False, model_blob=bad).collect()
    assert [r["page_text"] for r in via_ocr_pages] == [tampered[ocr_url][1]]


def test_model_blob_needs_lstm_recognizer(spark):
    """Only the lstm recognizer decodes from weights: a blob passed with the
    template recognizer fails the call on the driver instead of being
    ignored by every task."""
    from tesseract_wasm_spark.fixtures import fixtures_df
    from tesseract_wasm_spark.pipeline import extract_any, ocr_pages

    pages = fixtures_df(spark, n_corpus_pages=1)
    blob = _blob_without("e")
    with pytest.raises(ValueError, match="model_blob needs recognizer='lstm'"):
        ocr_pages(pages, model_blob=blob)
    with pytest.raises(ValueError, match="model_blob needs recognizer='lstm'"):
        extract_any(pages, recognizer="template", model_blob=blob)
