"""Relational outputs derived from the extraction result (P6/P7/P9, Q9).

Everything here is plain DataFrame algebra over the single ``ocr_pages``
result — Catalyst prunes/pushes down for free, and the expensive UDF runs once
regardless of how many of these outputs are materialized (persist the result
DataFrame when deriving several — SURVEY.md §4 O2).

Each rule that turns a page result into words, lines, layout boxes or hOCR
is defined here once, with one helper per side: the DataFrame builders and
their Python twins over a single ``PageResult``, which ``api.OCREngine``
answers from.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal
from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

from tesseract_wasm_spark.engine.page import END_OF_LINE, START_OF_LINE, PageResult, WordBox
from tesseract_wasm_spark.font import BASELINE_ROW, XHEIGHT_TOP


def words_df(results: DataFrame) -> DataFrame:
    """Exploded word-level TextItems (reference getTextBoxes("word") —
    src/ocr-engine.ts:255-267): one row per word per url."""
    return (
        results.filter(F.col("error").isNull())
        .select("url", F.explode("words").alias("w"))
        .select("url", "w.*")
    )


def layout_df(results: DataFrame) -> DataFrame:
    """Layout-only BoxItems (reference getBoundingBoxes — src/lib.cpp:197-203):
    no text/confidence, empty pages yield zero rows (the reference quirk is
    OCR-path-only — test/ocr-engine-test.js:211-229).

    On a layout-only run (``ocr_pages(with_text=False)``) the boxes come from
    the layout_boxes column; on a full OCR run that column is intentionally
    empty and boxes come from the recognized words — mirroring the reference,
    where getBoundingBoxes after recognition returns OCR-quality boxes
    (src/ocr-engine.ts:236-239)."""
    from_layout = (
        results.filter(F.col("error").isNull())
        .select("url", F.posexplode("layout_boxes").alias("box_id", "b"))
        .select("url", "box_id", "b.*")
    )
    from_words = (
        results.filter(F.col("error").isNull() & (F.size("layout_boxes") == 0))
        .select("url", F.explode("words").alias("w"))
        .filter((F.col("w.text") != "") | (F.col("w.right") != 0))  # drop quirk row
        .select(
            "url",
            F.col("w.word_id").alias("box_id"),
            F.col("w.left").alias("left"),
            F.col("w.top").alias("top"),
            F.col("w.right").alias("right"),
            F.col("w.bottom").alias("bottom"),
            F.lit(0).alias("flags"),
        )
    )
    return from_layout.unionByName(from_words)


def lines_df(words: DataFrame) -> DataFrame:
    """Word -> line rollup (Q9; reference TextUnit.Line — src/lib.cpp:59-68).
    Line text = words joined by spaces + trailing newline (pinned by reference
    test/ocr-engine-test.js:199-206). Synthetic empty-page marker rows (empty
    text, all-zero rect) are excluded, matching the reference where line-level
    iteration yields the same single empty box (we keep lines honest instead).
    """
    ordered = F.array_sort(F.collect_list(F.struct("word_id", "text", "confidence")))
    return (
        words.filter(F.col("text") != "")
        .groupBy("url", "line_id")
        .agg(
            F.min("left").alias("left"),
            F.min("top").alias("top"),
            F.max("right").alias("right"),
            F.max("bottom").alias("bottom"),
            F.first("baseline").alias("baseline"),
            F.first("block_id").alias("block_id"),
            F.count("*").alias("n_words"),
            ordered.alias("_ws"),
        )
        .withColumn(
            "text",
            F.concat(F.array_join(F.transform("_ws", lambda w: w["text"]), " "), F.lit("\n")),
        )
        .withColumn(
            "confidence",
            F.aggregate("_ws", F.lit(0.0), lambda acc, w: acc + w["confidence"])
            / F.size("_ws"),
        )
        .drop("_ws")
    )


def page_text_df(results: DataFrame) -> DataFrame:
    """Per-url extracted text straight from the engine (the byte-identity
    surface — reference getText, src/lib.cpp:211-214)."""
    return results.filter(F.col("error").isNull()).select("url", F.col("page_text").alias("text_out"))


def page_text_from_lines(lines: DataFrame) -> DataFrame:
    """The same page text assembled relationally from the lines rollup —
    tested equal to the engine's direct string (P7 dual-path check)."""
    ordered = F.array_sort(F.collect_list(F.struct("line_id", "text")))
    return (
        lines.groupBy("url")
        .agg(F.array_join(F.transform(ordered, lambda s: s["text"]), "").alias("text_out"))
    )


def orientation_df(results: DataFrame) -> DataFrame:
    """Per-url orientation (P10) + deskew estimate (P3)."""
    return results.filter(F.col("error").isNull()).select(
        "url", "rotation", F.col("orient_confidence").alias("confidence"), "skew_degrees"
    )


def errors_df(results: DataFrame) -> DataFrame:
    """Error-as-value rows (reference OCRResult{error} — src/lib.cpp:70-75)."""
    return results.filter(F.col("error").isNotNull()).select("url", "error")


# --- hOCR rendering (P9 — reference src/lib.cpp:216-240) -------------------

_HOCR_HEADER = """<?xml version="1.0" encoding="UTF-8"?>
<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN" "http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd">
<html xmlns="http://www.w3.org/1999/xhtml" xml:lang="en" lang="en">
<head>
  <title>hOCR text</title>
  <meta http-equiv="Content-Type" content="text/html;charset=utf-8"/>
  <meta name='ocr-system' content='tesseract-wasm-spark 0.1.0' />
  <meta name='ocr-capabilities' content='ocr_page ocr_carea ocr_par ocr_line ocrx_word ocrp_wconf' />
</head>
<body>
"""
_HOCR_FOOTER = "</body>\n</html>"
# the element templates: hocr_df fills them with F.format_string, page_hocr
# with %; java.util.Formatter and Python read %d/%s alike
_HOCR_WORD = (
    "      <span class='ocrx_word' id='word_1_%d' title='bbox %d %d %d %d; x_wconf %d'>%s</span>"
)
_HOCR_LINE_OPEN = (
    "     <span class='ocr_line' id='line_1_%d' title=\"bbox %d %d %d %d; "
    "baseline %s %d; x_size %d; x_descenders %d; x_ascenders %d\">"
)
_HOCR_LINE_CLOSE = "     </span>"
_HOCR_BLOCK = (
    "   <div class='ocr_carea' id='block_1_%d' title=\"bbox %d %d %d %d\">\n"
    "    <p class='ocr_par' id='par_1_%d' title=\"bbox %d %d %d %d\">\n%s\n"
    "    </p>\n   </div>"
)
_HOCR_PAGE = "  <div class='ocr_page' id='page_1' title='bbox 0 0 %d %d'>\n%s\n  </div>"
_HOCR_EMPTY_PAGE = "  <div class='ocr_page' id='page_1' title='bbox 0 0 %d %d'>\n  </div>"
_XML_ESCAPES = (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"))


def hocr_df(results: DataFrame) -> DataFrame:
    """Render hOCR per url with format_string/aggregation — the same document
    structure and attributes the reference emits (header/footer inlined like
    src/lib.cpp:224-239; capabilities line src/lib.cpp:231; entity ids and
    title attrs pinned by reference test/ocr-engine-test.js:296-307:
    ``word_1_1``/``line_1_5``, ``bbox ...; x_wconf N``, line ``baseline``/
    ``x_size``/``x_descenders``/``x_ascenders``)."""
    words = words_df(results).filter(F.col("text") != "")
    lines = lines_df(words)

    word_span = F.format_string(
        _HOCR_WORD,
        F.col("word_id") + 1,
        "left",
        "top",
        F.col("right") + 1,
        F.col("bottom") + 1,
        F.round(F.col("confidence") * 100).cast("int"),
        _xml_escape(F.col("text")),
    )
    words_per_line = (
        words.withColumn("_span", word_span)
        .groupBy("url", "line_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("word_id", "_span"))),
                    lambda s: s["_span"],
                ),
                "\n",
            ).alias("word_spans")
        )
    )
    # per-line typography attrs from real geometry (reference emits the same
    # attrs from Tesseract's line fit — golden snippet test/ocr-engine-test.js:
    # 296-307): baseline = (slope, offset from bbox bottom), x_size = line
    # height, x_descenders/x_ascenders relative to baseline/x-height.
    # The slope is the page's measured physical skew (tan of the deskew
    # angle): boxes are reported in deskewed coordinates, so the slope records
    # where the baseline ran in the original scan — 0 on upright pages.
    slope = _baseline_slope(F.col("skew_degrees"))
    line_open = F.format_string(
        _HOCR_LINE_OPEN,
        F.col("line_id") + 1,
        "left",
        "top",
        F.col("right") + 1,
        F.col("bottom") + 1,
        slope,
        F.col("baseline") - F.col("bottom"),  # <= 0, offset from bbox bottom
        F.col("bottom") - F.col("top") + 1,
        F.col("bottom") - F.col("baseline"),
        F.greatest(
            F.lit(0),
            (F.col("baseline") - F.col("top")) - F.lit(BASELINE_ROW - XHEIGHT_TOP),
        ),
    )
    line_block = F.concat_ws("\n", line_open, F.col("word_spans"), F.lit(_HOCR_LINE_CLOSE))
    # lines roll up into careas (one ocr_carea/ocr_par per detected block —
    # reference FindBlocks structure, patches/tesseract.diff:107-151), blocks
    # into the page div
    per_block = (
        lines.join(results.select("url", "skew_degrees"), "url")
        .join(words_per_line, ["url", "line_id"])
        .withColumn("_line_block", line_block)
        .groupBy("url", "block_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_id", "_line_block"))),
                    lambda s: s["_line_block"],
                ),
                "\n",
            ).alias("lines_html"),
            F.min("left").alias("_l"),
            F.min("top").alias("_t"),
            F.max("right").alias("_r"),
            F.max("bottom").alias("_b"),
        )
    )
    block_html = F.format_string(
        _HOCR_BLOCK,
        F.col("block_id") + 1,
        "_l",
        "_t",
        F.col("_r") + 1,
        F.col("_b") + 1,
        F.col("block_id") + 1,
        "_l",
        "_t",
        F.col("_r") + 1,
        F.col("_b") + 1,
        "lines_html",
    )
    per_page = (
        per_block.withColumn("_block_html", block_html)
        .groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("block_id", "_block_html"))),
                    lambda s: s["_block_html"],
                ),
                "\n",
            ).alias("blocks_html")
        )
    )
    pages = results.filter(F.col("error").isNull()).select("url", "width", "height")
    page_html = F.format_string(_HOCR_PAGE, "width", "height", "blocks_html")
    # a page with zero recognized words still yields a valid hOCR document
    # (header + bare ocr_page div) — same as OCREngine.getHOCR on an empty
    # page (reference renders the page div unconditionally, src/lib.cpp:224-239)
    empty_page_html = F.format_string(_HOCR_EMPTY_PAGE, "width", "height")
    body = F.when(F.col("blocks_html").isNull(), empty_page_html).otherwise(page_html)
    return (
        pages.join(per_page, "url", "left")
        .select(
            "url",
            F.concat(F.lit(_HOCR_HEADER), body, F.lit("\n"), F.lit(_HOCR_FOOTER)).alias("hocr"),
        )
    )


def _baseline_slope(skew_degrees):
    return F.round(F.tan(F.radians(skew_degrees)), 4).cast("string")


def _xml_escape(col):
    for ch, ref in _XML_ESCAPES:
        col = F.replace(col, F.lit(ch), F.lit(ref))
    return col


def line_flags_check(words: DataFrame) -> DataFrame:
    """Re-derive Start/EndOfLine flags relationally (Q2/P6 — reference flag
    logic src/lib.cpp:307-315) so tests can assert engine flags == SQL flags."""
    w = Window.partitionBy("url", "line_id").orderBy("word_id")
    rn = F.row_number().over(w)
    cnt = F.count("*").over(Window.partitionBy("url", "line_id"))
    derived = (
        F.when(rn == 1, F.lit(START_OF_LINE)).otherwise(F.lit(0))
        + F.when(rn == cnt, F.lit(END_OF_LINE)).otherwise(F.lit(0))
    )
    return words.withColumn("flags_sql", derived.cast("int"))


# --- Python twins: one page's PageResult as OCREngine returns it -----------
#
# The same grouping and order, the same in-order sums, Spark's rounding and
# the same hOCR templates as the builders above; tests/test_api_parity.py
# holds the two sides equal, floats included, on every fixture page.


def _spark_round(x: float, places: int) -> float:
    """Spark's ``round`` of a double: HALF_UP on its decimal string
    (``java.math.BigDecimal.valueOf``; repr stands in for Double.toString),
    so 62.5 gives 63 where Python's half-to-even ``round`` gives 62."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _baseline_slope_text(skew_degrees: float) -> str:
    """Python twin of _baseline_slope. Deskew's shears are whole per-mille,
    so the rounded slope is never below 1e-3 in size and repr spells it as
    Java does."""
    return repr(_spark_round(math.tan(math.radians(skew_degrees)), 4))


def _xml_escape_text(text: str) -> str:
    """Python twin of _xml_escape."""
    for ch, ref in _XML_ESCAPES:
        text = text.replace(ch, ref)
    return text


def _rect(ws: list[WordBox]) -> dict:
    return {
        "left": min(w.left for w in ws),
        "top": min(w.top for w in ws),
        "right": max(w.right for w in ws),
        "bottom": max(w.bottom for w in ws),
    }


def _by_line(words) -> list[list[WordBox]]:
    """Words grouped by line_id: lines in id order, words in word_id order."""
    lines: dict[int, list[WordBox]] = {}
    for w in sorted(words, key=lambda w: (w.line_id, w.word_id)):
        lines.setdefault(w.line_id, []).append(w)
    return list(lines.values())


def _lines(words: list[WordBox]) -> list[tuple[list[WordBox], dict]]:
    """lines_df over one page's words: per line, its words with text and its
    row as a getTextBoxes("line") item. The confidence folds the words in
    order, as lines_df's F.aggregate does (a pairwise sum such as np.mean
    differs in the last ulp on long lines)."""
    return [
        (ws, {"rect": _rect(ws), "flags": 0,
              "confidence": reduce(lambda acc, w: acc + w.confidence, ws, 0.0) / len(ws),
              "text": " ".join(w.text for w in ws) + "\n", "line_id": ws[0].line_id})
        for ws in _by_line(w for w in words if w.text != "")
    ]


def text_items(words: list[WordBox], unit: str) -> list[dict]:
    """getTextBoxes items: words_df's rows for "word", lines_df's for "line"."""
    if unit == "line":
        return [item for _, item in _lines(words)]
    return [
        {"rect": _rect([w]), "flags": w.flags, "confidence": w.confidence,
         "text": w.text, "line_id": w.line_id, "word_id": w.word_id}
        for w in words
    ]


def box_items(res: PageResult, unit: str) -> list[dict]:
    """layout_df over one page as getBoundingBoxes items: the segmentation's
    boxes of a layout-only result, else the recognized words less the
    empty-page quirk row. A "line" box is the union of its words' boxes."""
    if res.words:
        words = [w for w in res.words if w.text != "" or w.right != 0]
    else:
        words = [WordBox(i, li, l, t, r, b, 0, 0.0, "", 0)
                 for i, (l, t, r, b, _, li) in enumerate(res.layout_boxes)]
    groups = _by_line(words) if unit == "line" else [[w] for w in words]
    return [{"rect": _rect(ws), "flags": 0} for ws in groups]


def page_hocr(res: PageResult) -> str:
    """hocr_df for one page, built on the Python line rollup as hocr_df
    builds on lines_df."""
    by_block: dict[int, list[tuple[list[WordBox], dict]]] = {}
    for ws, item in _lines(res.words):
        by_block.setdefault(ws[0].block_id, []).append((ws, item))
    page = _HOCR_EMPTY_PAGE % (res.width, res.height)
    if by_block:
        slope, blocks = _baseline_slope_text(res.skew_degrees), []
        for bi in sorted(by_block):
            r = _rect([w for ws, _ in by_block[bi] for w in ws])
            box = (r["left"], r["top"], r["right"] + 1, r["bottom"] + 1)
            lines_html = "\n".join(_hocr_line(ws, item, slope) for ws, item in by_block[bi])
            blocks.append(_HOCR_BLOCK % (bi + 1, *box, bi + 1, *box, lines_html))
        page = _HOCR_PAGE % (res.width, res.height, "\n".join(blocks))
    return _HOCR_HEADER + page + "\n" + _HOCR_FOOTER


def _hocr_line(ws: list[WordBox], item: dict, slope: str) -> str:
    r, baseline = item["rect"], ws[0].baseline
    line_open = _HOCR_LINE_OPEN % (
        item["line_id"] + 1, r["left"], r["top"], r["right"] + 1, r["bottom"] + 1,
        slope,
        baseline - r["bottom"],
        r["bottom"] - r["top"] + 1,
        r["bottom"] - baseline,
        max(0, (baseline - r["top"]) - (BASELINE_ROW - XHEIGHT_TOP)),
    )
    spans = "\n".join(
        _HOCR_WORD % (w.word_id + 1, w.left, w.top, w.right + 1, w.bottom + 1,
                      int(_spark_round(w.confidence * 100, 0)), _xml_escape_text(w.text))
        for w in ws
    )
    return "\n".join((line_open, spans, _HOCR_LINE_CLOSE))
