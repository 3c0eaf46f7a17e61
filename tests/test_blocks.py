"""Multi-column block layout tests (reference FindBlocks —
patches/tesseract.diff:107-151): gutter detection, reading order, carea/par
hOCR structure, and degenerate-split rejection."""

from __future__ import annotations

from tesseract_wasm_spark.engine.components import label_components
from tesseract_wasm_spark.engine.otsu import binarize
from tesseract_wasm_spark.engine.page import _despeckle, process_rgba
from tesseract_wasm_spark.engine.segment import find_blocks
from tesseract_wasm_spark.fixtures import TWO_COL_LINES, expected_text
from tesseract_wasm_spark.raster import render_columns, render_page
from tesseract_wasm_spark.font import export_model


def _comps(img):
    return _despeckle(label_components(binarize(img)))


def test_single_column_is_one_block():
    from tesseract_wasm_spark.fixtures import SMALL_PAGE_LINES

    blocks = find_blocks(_comps(render_page(SMALL_PAGE_LINES)))
    assert len(blocks) == 1


def test_two_and_three_columns_detected():
    img2 = render_columns(TWO_COL_LINES)
    assert len(find_blocks(_comps(img2))) == 2
    img3 = render_columns([TWO_COL_LINES[0], TWO_COL_LINES[1], ["third col here", "with two lines"]])
    assert len(find_blocks(_comps(img3))) == 3


def test_two_column_reading_order_byte_identical():
    res = process_rgba(render_columns(TWO_COL_LINES))
    assert res.page_text == expected_text(TWO_COL_LINES[0] + TWO_COL_LINES[1])
    # words carry the block id; line ids are global in reading order
    blocks = sorted({w.block_id for w in res.words})
    assert blocks == [0, 1]
    n_left = len(TWO_COL_LINES[0])
    for w in res.words:
        assert (w.block_id == 0) == (w.line_id < n_left)


def test_degenerate_split_rejected():
    """A wide in-line gap (single-line 'columns') is not a column boundary:
    text assembly keeps the single-block reading order."""
    res = process_rgba(render_page(["a    b"]))
    assert res.page_text == "a b\n"
    assert all(w.block_id == 0 for w in res.words)


def test_two_column_hocr_has_two_careas():
    from tesseract_wasm_spark.api import createOCREngine

    eng = createOCREngine()
    eng.loadModel(export_model())
    eng.loadImage(render_columns(TWO_COL_LINES))
    h = eng.getHOCR()
    assert "id='block_1_1'" in h and "id='block_1_2'" in h
    assert "id='par_1_1'" in h and "id='par_1_2'" in h
    assert h.index("block_1_1") < h.index("block_1_2")
    # first word of the right column appears after the left column's last
    assert h.index(">light<") < h.index(">image<")


def test_two_column_skewed_still_byte_identical():
    res = process_rgba(render_columns(TWO_COL_LINES, skew_per_mille=21))
    assert res.page_text == expected_text(TWO_COL_LINES[0] + TWO_COL_LINES[1])


def test_hocr_df_matches_engine_twin_on_two_col(spark):
    from tesseract_wasm_spark.api import createOCREngine
    from tesseract_wasm_spark.fixtures import fixtures_df
    from tesseract_wasm_spark.outputs import hocr_df
    from tesseract_wasm_spark.pipeline import ocr_pages
    from pyspark.sql import functions as F

    pages = fixtures_df(spark, n_corpus_pages=2)
    rows = hocr_df(ocr_pages(pages)).filter(F.col("url").endswith("two-col")).collect()
    assert len(rows) == 1
    eng = createOCREngine()
    eng.loadModel(export_model())
    eng.loadImage(render_columns(TWO_COL_LINES))
    assert rows[0]["hocr"] == eng.getHOCR()
