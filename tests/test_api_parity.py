"""OCREngine against the Spark tables, url by url: every answer of the
sequential API equals the Spark rows of the same page, floats included.

One page core feeds both sides (the stages of engine.page); what is built
from it is defined once in outputs.py, with a DataFrame builder and a
Python twin per rule. This test holds the twins equal on every page of the
fixture, degraded and seeded corpora, under the engine settings a caller
can change: the whitelist and interword-space variables and the lstm
recognizer with a loaded weight blob (clean and tampered). The engine
keeps one layout per image, so the same answers must come in any query
order and after a variable is set and reset."""

from __future__ import annotations

import functools

import numpy as np
import pytest
from pyspark.sql import functions as F

from tesseract_wasm_spark import outputs as O
from tesseract_wasm_spark.api import createOCREngine
from tesseract_wasm_spark.engine import lstm_ctc as L
from tesseract_wasm_spark.engine.deskew import MAX_SHEAR_PER_MILLE
from tesseract_wasm_spark.fixtures import (
    BASE_TS, PAGES_DDL, corpus_df, degraded_corpus_df, degraded_df, fixtures_df,
)
from tesseract_wasm_spark.font import export_model
from tesseract_wasm_spark.pipeline import ocr_pages
from tesseract_wasm_spark.raster import render_page_drf
from test_lstm_ctc import _blob_without

WHITELIST = {"tessedit_char_whitelist": "abcdefghijklmnopqrstuvwxyz "}
#: engine settings beyond the defaults: (recognizer, variables, blob kind)
SETTINGS = {
    "whitelist": ("template", WHITELIST, None),
    "spaces": ("template", {"preserve_interword_spaces": "1"}, None),
    "lstm": ("lstm", {}, "clean"),
    "lstm-tampered": ("lstm", {}, "no-e"),
    # every glyph but "0" banned: lines whose words all read empty
    "lstm-whitelist-0": ("lstm", {"tessedit_char_whitelist": "0"}, "clean"),
}
#: the pages each extra setting runs on (all eng, so one blob reads them)
SETTING_PAGES = (
    "https://fixtures.test/page/small-page",
    "https://fixtures.test/page/two-col",
    "https://fixtures.test/page/skew-m33",
    "https://fixtures.test/page/empty-100x100",
    "https://fixtures.test/page/wide-gaps",
    "https://degraded.test/page/00000000",
    "https://degraded.test/page/00000001",
    "https://degraded.test/page/00000002",
    "https://corpus.test/page/00000000",
    "https://corpus.test/page/00000001",
)


@functools.lru_cache(maxsize=None)
def _blob(kind):
    return {None: None, "clean": L.export_lstm_model("eng"), "no-e": _blob_without("e")}[kind]


def _rect(r) -> dict:
    return {"left": r["left"], "top": r["top"], "right": r["right"], "bottom": r["bottom"]}


def _per_url(rows, item, order):
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["url"], r[order])):
        out.setdefault(r["url"], []).append(item(r))
    return out


@pytest.fixture(scope="module")
def spark_side(spark):
    """Every setting's Spark rows, keyed by setting then url; one union of
    ocr_pages runs (the url tagged with its setting) through each builder."""
    pages = (
        fixtures_df(spark, n_corpus_pages=16)
        .unionByName(degraded_df(spark, n_corpus_pages=0))
        .unionByName(degraded_corpus_df(spark, 24))
        .unionByName(corpus_df(spark, 24))
        .unionByName(spark.createDataFrame(
            [("https://fixtures.test/page/wide-gaps", BASE_TS,
              render_page_drf(["a  b   c", "normal line"]), "a  b   c\nnormal line\n", "eng")],
            PAGES_DDL))
        .persist()
    )

    def tagged(setting, results):
        return results.withColumn("url", F.concat(F.lit(setting + " "), "url"))

    runs = [tagged("base", ocr_pages(pages)),
            tagged("layout", ocr_pages(pages, with_text=False, with_orientation=False)),
            tagged("whitelist-all", ocr_pages(pages, variables=WHITELIST,
                                              with_orientation=False))]
    some = pages.filter(F.col("url").isin(*SETTING_PAGES))
    for name, (recognizer, variables, blob) in SETTINGS.items():
        runs.append(tagged(name, ocr_pages(
            some, recognizer=recognizer, variables=variables or None,
            model_blob=_blob(blob), with_orientation=False)))
    results = runs[0]
    for run in runs[1:]:
        results = results.unionByName(run)
    results = results.persist()
    try:
        tables = {
            "page": {r["url"]: r for r in results.select(
                "url", "error", "page_text", "rotation", "orient_confidence").collect()},
            "words": _per_url(O.words_df(results).collect(), lambda r: {
                "rect": _rect(r), "flags": r["flags"], "confidence": r["confidence"],
                "text": r["text"], "line_id": r["line_id"], "word_id": r["word_id"],
            }, "word_id"),
            "lines": _per_url(O.lines_df(O.words_df(results)).collect(), lambda r: {
                "rect": _rect(r), "flags": 0, "confidence": r["confidence"],
                "text": r["text"], "line_id": r["line_id"],
            }, "line_id"),
            "boxes": _per_url(O.layout_df(results).collect(), lambda r: {
                "rect": _rect(r), "flags": r["flags"]}, "box_id"),
            "hocr": _per_url(O.hocr_df(results).collect(), lambda r: r["hocr"], "url"),
        }
        payloads = {r["url"]: (bytes(r["html"]), r["lang"])
                    for r in pages.select("url", "html", "lang").collect()}
    finally:
        results.unpersist()
        pages.unpersist()
    side: dict[str, dict[str, dict]] = {}
    for tagged_url, page in tables["page"].items():
        setting, url = tagged_url.split(" ", 1)
        row = {"error": page["error"], "text": page["page_text"],
               "orientation": {"rotation": page["rotation"],
                               "confidence": page["orient_confidence"]}}
        for key in ("words", "lines", "boxes", "hocr"):
            row[key] = tables[key].get(tagged_url, [])
        side.setdefault(setting, {})[url] = row
    return payloads, side


def _engine_answers(payload: bytes, lang: str, setting: str) -> dict:
    """The OCREngine calls that mirror one Spark row of ``setting``;
    "reversed" asks the base row's questions in the other order, then sets
    the whitelist and resets it."""
    eng = createOCREngine()
    try:
        eng.loadImage(payload)
    except ValueError as exc:
        return {"error": str(exc)}
    out: dict = {"error": None}
    if setting == "base":
        out["boxes_before"] = eng.getBoundingBoxes("word")
        out["orientation"] = eng.getOrientation()
        eng.loadModel(export_model(lang))
    elif setting == "reversed":
        eng.loadModel(export_model(lang))
    else:
        _, variables, blob = SETTINGS[setting]
        eng.loadModel(_blob(blob) or export_model(lang))
        for name, value in variables.items():
            eng.setVariable(name, value)
    out["text"] = eng.getText()
    out["words"] = eng.getTextBoxes("word")
    out["lines"] = eng.getTextBoxes("line")
    out["hocr"] = [eng.getHOCR()]
    out["boxes"] = eng.getBoundingBoxes("word")
    if setting == "reversed":
        out["orientation"] = eng.getOrientation()
        (name, value), = WHITELIST.items()
        eng.setVariable(name, value)
        out["whitelisted"] = eng.getText()
        eng.setVariable(name, "")
        out["text_again"] = eng.getText()
        out["words_again"] = eng.getTextBoxes("word")
    return out


EMPTY_PAGE_LINE = {"rect": {"left": 0, "top": 0, "right": 0, "bottom": 0},
                   "flags": 0, "confidence": 0.0, "text": "", "line_id": 0}


@pytest.mark.parametrize("setting", ["base", "reversed", *SETTINGS])
def test_engine_answers_equal_spark_rows(spark_side, setting):
    payloads, side = spark_side
    rows = side["base" if setting == "reversed" else setting]
    if setting in ("base", "reversed"):
        assert len(rows) == len(payloads)
        assert sum(r["error"] is None for r in rows.values()) >= 78
    else:
        assert sorted(rows) == sorted(SETTING_PAGES)
    diffs = []
    for url, row in sorted(rows.items()):
        want = dict(row)
        if want["error"] is None:
            if setting == "base":
                want["boxes_before"] = side["layout"][url]["boxes"]
            if not side["layout"][url]["boxes"]:
                # an empty page: lines_df drops its one quirk text box, the
                # API keeps it at line level too (the reference pins both)
                assert want["lines"] == []
                want["lines"] = [EMPTY_PAGE_LINE]
            assert len(want["hocr"]) == 1
            if setting == "reversed":
                want["whitelisted"] = side["whitelist-all"][url]["text"]
                want["text_again"], want["words_again"] = want["text"], want["words"]
        else:  # an error row adds nothing to the derived tables
            assert want["words"] == want["lines"] == want["boxes"] == want["hocr"] == []
        got = _engine_answers(*payloads[url], setting)
        diffs += [(url, key) for key in got if got[key] != want[key]]
    assert diffs == []


def test_settings_reach_the_differential_rows(spark_side):
    """The settings' pages exercise what they are there for: a tampered
    blob reads no 'e', the whitelist "0" empties every word of a page (so
    lines_df gives it no line), and the preserved spaces widen some gap."""
    _, side = spark_side
    assert all("e" not in r["text"] for r in side["lstm-tampered"].values())
    emptied = side["lstm-whitelist-0"]["https://degraded.test/page/00000000"]
    assert emptied["words"] and all(w["text"] == "" for w in emptied["words"])
    assert emptied["lines"] == []
    assert any("  " in r["text"] for r in side["spaces"].values())


def test_hocr_baseline_slope_matches_for_every_shear(spark):
    """Both sides' baseline slope for every per-mille shear deskew can
    return: round(tan(atan(k/1000)), 4) as a string."""
    ks = list(range(-MAX_SHEAR_PER_MILLE, MAX_SHEAR_PER_MILLE + 1))
    skews = [float(np.degrees(np.arctan(k / 1000.0))) for k in ks]
    df = spark.createDataFrame([(s,) for s in skews], "skew_degrees double")
    jvm = [r[0] for r in df.select(O._baseline_slope(F.col("skew_degrees"))).collect()]
    py = [O._baseline_slope_text(s) for s in skews]
    assert jvm == py
    assert py[MAX_SHEAR_PER_MILLE] == "0.0" and py[-1] == "0.06"
