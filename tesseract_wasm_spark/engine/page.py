"""Per-page orchestration: DRF bytes -> PageResult.

This is the pure-Python core that the Spark ``mapInPandas`` UDF batches over
(pipeline.py) and that ``api.OCREngine`` answers from. It runs in three
stages: ``layout_stage`` (binarize, components, deskew, blocks, segmentation
and the layout boxes), then ``orientation_stage`` and ``recognition_stage``,
which both read the layout and leave it as it was. ``process_rgba`` runs
them in order; the engine API keeps one layout per image. The core
reproduces the reference engine's observable result surface (SURVEY.md
§2.2):

  - OCR words with rect / flags / confidence / text (getTextBoxes —
    reference: src/ocr-engine.ts:255-267, src/lib.cpp:291-323)
  - layout-only boxes without text (getBoundingBoxes — src/lib.cpp:197-203);
    the cheap path that skips recognition entirely
  - page text: line texts (each with trailing "\\n") concatenated in reading
    order (getText — src/lib.cpp:211-214; trailing-\\n pinned by reference
    test/ocr-engine-test.js:199-206)
  - orientation (getOrientation — src/lib.cpp:242-288)
  - error-as-value: a malformed page yields PageResult.error instead of an
    exception (the reference returns OCRResult{error} across the WASM boundary,
    src/lib.cpp:70-75; at 10^12-document scale a bad row must not kill the job)

Reference quirk reproduced exactly (test/ocr-engine-test.js:211-229): an empty
page yields 0 layout boxes but exactly one OCR text box with an all-zero rect
and empty text.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

import numpy as np

from tesseract_wasm_spark import drf
from tesseract_wasm_spark.engine.components import label_components
from tesseract_wasm_spark.font import ADV
from tesseract_wasm_spark.engine.otsu import binarize
from tesseract_wasm_spark.engine.recognize import recognize_words
from tesseract_wasm_spark.engine.segment import Line, segment

START_OF_LINE = 1  # reference: src/lib.cpp:19-24 LayoutFlags
END_OF_LINE = 2

#: despeckle threshold: components smaller than this are scanner noise, not
#: glyphs (every glyph has a full-height spine, area >= 5 — font.py); the
#: reference's segmentation likewise removes specks/rules before line finding
#: (Leptonica pipeline, patches/tesseract.diff:107-151 FindAndRemoveLines etc.)
MIN_COMPONENT_AREA = 4


@dataclass
class WordBox:
    word_id: int
    line_id: int
    left: int
    top: int
    right: int
    bottom: int
    flags: int
    confidence: float
    text: str
    baseline: int
    block_id: int = 0  # carea index (reference FindBlocks analog)


@dataclass
class PageResult:
    width: int = 0
    height: int = 0
    error: str | None = None
    rotation: int = 0
    orient_confidence: float = 0.0
    skew_degrees: float = 0.0
    words: list[WordBox] = field(default_factory=list)
    # (left, top, right, bottom, flags, line_id); readers take fields by index
    layout_boxes: list[tuple[int, int, int, int, int, int]] = field(default_factory=list)
    page_text: str = ""
    # raw orientation axis scores (orientation.orientation_scores) — kept on
    # the result so the decision tree can be re-derived independently of the
    # engine (the scores golden behind queries.SQL_OCR_ORIENTATION)
    up_conf: float = 0.0
    left_conf: float = 0.0


def _despeckle(comps):
    keep = comps.area >= MIN_COMPONENT_AREA
    if keep.all():
        return comps
    from tesseract_wasm_spark.engine.components import Components  # noqa: PLC0415

    return Components(
        comps.left[keep], comps.top[keep], comps.right[keep],
        comps.bottom[keep], comps.area[keep],
    )


def process_page(payload: bytes, **kw) -> PageResult:
    try:
        rgba = drf.decode(payload)
    except ValueError as exc:
        return PageResult(error=str(exc))
    return process_rgba(rgba, **kw)


def process_rgba(rgba: np.ndarray, *, with_text: bool = True, with_orientation: bool = True,
                 **kw) -> PageResult:
    """The three stages in order; ``kw`` are recognition_stage's settings."""
    layout = layout_stage(rgba)
    res = layout.result
    if with_orientation:
        res = orientation_stage(layout, res)
    return recognition_stage(layout, res, **kw) if with_text else res


@dataclass
class PageLayout:
    """The layout stage's output, which orientation and recognition read and
    never edit, so one layout serves any number of later stages (the
    reference analyses layout once per image, src/lib.cpp:197-201)."""

    result: PageResult  # width, height, skew_degrees and layout_boxes set
    mask: np.ndarray  # binarized, unsheared
    lines: list[Line]  # reading order
    line_block: list[int]  # block index of each line


def layout_stage(rgba: np.ndarray) -> PageLayout:
    """Binarize, components, deskew, blocks and segmentation."""
    h, w = rgba.shape[:2]
    res = PageResult(width=w, height=h)
    mask = binarize(rgba)
    comps = _despeckle(label_components(mask))

    # P3 deskew — detect AND APPLY, as the reference does during layout
    # analysis (patches/tesseract.diff:118-119 GetDeskewVectors): a sheared
    # scan is straightened before segmentation so line banding and the
    # baseline-anchored recognizer see an upright page. k = 0 on clean pages
    # (deterministic tie-break + score margin), so the common path pays only
    # the detection scan.
    from tesseract_wasm_spark.engine.deskew import detect_shear_per_mille, unshear  # noqa: PLC0415

    k = detect_shear_per_mille(comps)
    if k != 0 and abs(k) <= 5:
        # defocused scans thicken strokes and jitter the component-bottom
        # fit by a row, which reads as a tiny spurious shear; unshearing
        # would split thickened glyphs across column-shift boundaries and
        # defeat the degraded-scan recovery tier. Sub-0.3 degree detections
        # on a thick-stroke mask are noise, not skew (the genuine skew
        # fixtures measure 17-60 per-mille).
        from tesseract_wasm_spark.engine.recognize import (  # noqa: PLC0415
            DEGRADED_MIN_THICKNESS, stroke_thickness,
        )

        if stroke_thickness(mask) >= DEGRADED_MIN_THICKNESS:
            k = 0
    if k != 0:
        mask = unshear(mask, k)
        comps = _despeckle(label_components(mask))
    res.skew_degrees = float(np.degrees(np.arctan(k / 1000.0)))

    # multi-column block layout (reference FindBlocks during AnalyseLayout,
    # patches/tesseract.diff:107-151): a full-height gutter splits the page
    # into careas; reading order = blocks left-to-right, lines top-to-bottom
    # within a block. A split where any side has < 2 lines is rejected as
    # degenerate (a wide in-line gap is not a column boundary).
    from tesseract_wasm_spark.engine.segment import find_blocks, subset  # noqa: PLC0415

    block_idx = find_blocks(comps)
    lines = []
    line_block: list[int] = []
    if len(block_idx) > 1:
        seg_blocks = [segment(subset(comps, idx)) for idx in block_idx]
        if any(len(ls) < 2 for ls in seg_blocks):
            seg_blocks = [segment(comps)]
    else:
        seg_blocks = [segment(comps)]
    for b, ls in enumerate(seg_blocks):
        for line in ls:
            lines.append(line)
            line_block.append(b)

    # layout-only boxes (P4): available without recognition; empty page -> 0.
    # Each carries its segmentation line id, so line rects need no regrouping
    for li, line in enumerate(lines):
        for word in line.words:
            res.layout_boxes.append((word.left, word.top, word.right, word.bottom, 0, li))

    return PageLayout(res, mask, lines, line_block)


def orientation_stage(layout: PageLayout, res: PageResult) -> PageResult:
    """``res`` with the page's orientation scores and decision."""
    from tesseract_wasm_spark.engine.orientation import (  # noqa: PLC0415
        decide_orientation, orientation_scores,
    )

    up, left = orientation_scores(layout.mask, layout.lines)
    rotation, confidence = decide_orientation(up, left)
    return replace(res, up_conf=float(up), left_conf=float(left),
                   rotation=rotation, orient_confidence=confidence)


def recognition_stage(
    layout: PageLayout,
    res: PageResult,
    *,
    recognizer: str = "template",
    variables: dict[str, str] | None = None,
    lang: str = "eng",
    lstm_model: tuple | None = None,
) -> PageResult:
    """``res`` with the page's words and text, recognized on ``layout``.

    ``lstm_model``: explicit trained-weight tuple for the lstm
    recognizer (lstm_ctc.parse_lstm_model) — passed, never worker-global.
    ``variables`` is the P11 parameter store (config.VariableStore
    contents); the consumed keys and their behavioral effects:

      - ``tessedit_char_whitelist``: restrict the emit alphabet (reference:
        Tesseract only outputs whitelisted chars; set via setVariable,
        src/lib.cpp:150-170)
      - ``preserve_interword_spaces``: "1" keeps the measured inter-word gap
        as that many spaces instead of normalizing to one (Tesseract's
        documented effect of the same parameter)
    ``user_defined_dpi`` is stored for round-trip parity but has no pixel
    meaning for the synthetic raster model."""
    from tesseract_wasm_spark.font import LANG_CHARSETS  # noqa: PLC0415

    if lang not in LANG_CHARSETS:
        lang = "eng"  # unknown model key -> the reference's hardcoded default
    v = variables or {}
    whitelist = v.get("tessedit_char_whitelist", "") or None
    preserve_spaces = v.get("preserve_interword_spaces", "0") == "1"

    if not layout.lines:
        # reference quirk: single all-zero, empty-text box for an empty image
        return replace(res, words=[WordBox(0, 0, 0, 0, 0, 0, START_OF_LINE | END_OF_LINE,
                                           0.0, "", 0, 0)], page_text="")

    # copy-on-write: a recognizer that re-anchors or re-splits a line puts
    # a new Line in this list, never into the layout's
    lines = list(layout.lines)
    if recognizer == "lstm":
        # P5 v2 path: LSTM+CTC, one batched recurrence for the whole page
        # (same downstream WordBox emission)
        from tesseract_wasm_spark.engine.lstm_ctc import recognize_page_lstm_scored  # noqa: PLC0415

        recognized = recognize_page_lstm_scored(
            layout.mask, lines, whitelist=whitelist, lang=lang, model=lstm_model
        )
    else:
        recognized = recognize_words(layout.mask, lines, whitelist=whitelist, lang=lang)
    words: list[WordBox] = []
    wid = 0
    text_lines: list[str] = []
    for li, line in enumerate(lines):
        word_texts: list[str] = []
        seps: list[str] = []
        for wi, word in enumerate(line.words):
            text, conf = recognized[li][wi]
            flags = 0
            if wi == 0:
                flags |= START_OF_LINE
            if wi == len(line.words) - 1:
                flags |= END_OF_LINE
            words.append(
                WordBox(
                    word_id=wid,
                    line_id=li,
                    left=word.left,
                    top=word.top,
                    right=word.right,
                    bottom=word.bottom,
                    flags=flags,
                    confidence=conf,
                    text=text,
                    baseline=line.baseline,
                    block_id=layout.line_block[li],
                )
            )
            if wi > 0:
                if preserve_spaces:
                    # measured gap in glyph advances between the previous
                    # word's last cell and this word's pen position
                    prev = line.words[wi - 1]
                    a_prev = prev.pen_left if prev.pen_left >= 0 else prev.left
                    a_cur = word.pen_left if word.pen_left >= 0 else word.left
                    gap = round((a_cur - a_prev) / ADV) - len(word_texts[-1])
                    seps.append(" " * max(1, gap))
                else:
                    seps.append(" ")
            word_texts.append(text)
            wid += 1
        parts = [word_texts[0]] if word_texts else []
        for sep, txt in zip(seps, word_texts[1:]):
            parts.extend((sep, txt))
        text_lines.append("".join(parts) + "\n")
    return replace(res, words=words, page_text="".join(text_lines))
