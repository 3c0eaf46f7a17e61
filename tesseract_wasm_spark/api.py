"""API-parity layer: a stateful single-page OCREngine mirroring the reference.

The reference's public surface is the ``OCREngine`` class
(src/ocr-engine.ts:91-338) + async ``OCRClient`` mirror (src/ocr-client.ts).
In Spark the distributed path is ``pipeline.ocr_pages`` (state-free, per-row);
this module keeps the *sequential* API so a user of the reference can port
call-for-call — same state machine, same precondition errors, same result
shapes — and so the reference's behavioral protocol tests (progress, memoized
re-run, clear-image invalidation — test/ocr-engine-test.js:309-363) have a
direct analog to run against.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from tesseract_wasm_spark import drf
from tesseract_wasm_spark.config import VariableStore
from tesseract_wasm_spark.engine.page import PageResult, WordBox, process_rgba

ERR_NO_IMAGE = "No image loaded"  # reference: src/ocr-engine.ts:323
ERR_NO_MODEL = "No text recognition model loaded"  # src/ocr-engine.ts:317
ERR_INVALID_UNIT = "Invalid text unit"  # src/ocr-engine.ts:335
ERR_MODEL_LOAD = "Text recognition model failed to load"  # src/ocr-engine.ts:160
ERR_IMAGE_LOAD = "Failed to load image"  # src/ocr-engine.ts:206

_UNITS = ("word", "line")


class OCREngine:
    """Stateful page engine (reference: src/ocr-engine.ts:91-338).

    The "model" is a validated blob identifying (and integrity-sealing) a
    language's glyph table — the .traineddata analog (font.export_model /
    font.parse_model; reference loads traineddata bytes and rejects malformed
    data with "Text recognition model failed to load", src/lib.cpp:133-148,
    src/ocr-engine.ts:152-165). Loading a model selects the recognition
    language; in the distributed pipeline the same selection happens per row
    via the lang column (SURVEY.md §2.1 S4).
    """

    def __init__(self) -> None:
        self._model_loaded = False
        self._lang = "eng"
        self._image: np.ndarray | None = None
        self._result: PageResult | None = None
        self._layout_result: PageResult | None = None
        self._orientation: tuple[int, float] | None = None
        self._variables = VariableStore()

    # --- model / image lifecycle -------------------------------------
    def loadModel(self, model: bytes) -> None:
        from tesseract_wasm_spark.font import parse_model  # noqa: PLC0415

        if not isinstance(model, (bytes, bytearray)) or len(model) == 0:
            raise ValueError(ERR_MODEL_LOAD)
        try:
            if bytes(model[:5]) == b"TWSM2":
                # trained-weight blob: validated, and its language selected;
                # the weights reach recognition only as an explicit
                # lstm_model argument, never as process-global state
                from tesseract_wasm_spark.engine.lstm_ctc import (  # noqa: PLC0415
                    parse_lstm_model,
                )

                self._lang = parse_lstm_model(model)[0]
            else:
                self._lang = parse_model(model)
        except ValueError as exc:
            raise ValueError(ERR_MODEL_LOAD) from exc
        self._model_loaded = True
        self._result = None  # a new model invalidates recognition results

    def loadImage(self, image) -> None:
        """Accepts uint8[H,W,4] ndarray, DRF bytes, or an ImageData-style dict
        {"data": bytes-like, "width": int, "height": int} (the reference's
        input normalization — src/ocr-engine.ts:171-210)."""
        # clear previous state *before* staging the new image (peak-memory
        # discipline — reference src/ocr-engine.ts:186-203)
        self._image = None
        self._result = None
        self._layout_result = None
        self._orientation = None
        if isinstance(image, (bytes, bytearray)):
            rgba = drf.decode(bytes(image))  # raises with reference messages
        elif isinstance(image, dict):
            w, h = int(image["width"]), int(image["height"])
            if w <= 0 or h <= 0:
                raise ValueError(drf.ERR_ZERO_DIM)
            data = np.frombuffer(image["data"], dtype=np.uint8)
            # the reference rejects only too-short buffers (src/ocr-engine.ts:
            # 179-181 `data.length < width*height*4`); an oversized buffer is
            # accepted and the first w*h*4 bytes are used
            if data.size < w * h * 4:
                raise ValueError(drf.ERR_BAD_LENGTH)
            rgba = data[: w * h * 4].reshape(h, w, 4)
        elif isinstance(image, np.ndarray):
            ok_shape = image.ndim == 2 or (image.ndim == 3 and image.shape[2] in (1, 4))
            if not ok_shape or image.dtype != np.uint8:
                raise ValueError(ERR_IMAGE_LOAD)
            if image.shape[0] == 0 or image.shape[1] == 0:
                raise ValueError(drf.ERR_ZERO_DIM)
            rgba = image
        else:
            raise ValueError(ERR_IMAGE_LOAD)
        self._image = rgba

    def clearImage(self) -> None:
        """Drop image + results, keep model (reference: src/lib.cpp:191-195)."""
        self._image = None
        self._result = None
        self._layout_result = None
        self._orientation = None

    # --- variables ----------------------------------------------------
    def getVariable(self, name: str) -> str:
        return self._variables.get(name)

    def setVariable(self, name: str, value: str) -> None:
        self._variables.set(name, value)
        # variables change recognition only (P11), so the recognition memo is
        # stale; layout and orientation stand — the reference likewise applies
        # SetVariable to the live engine ahead of the next DoOCR
        # (src/lib.cpp:150-170)
        self._result = None

    # --- queries ------------------------------------------------------
    def _check_image(self) -> np.ndarray:
        if self._image is None:
            raise ValueError(ERR_NO_IMAGE)
        return self._image

    def _check_model(self) -> None:
        if not self._model_loaded:
            raise ValueError(ERR_NO_MODEL)

    @staticmethod
    def _check_unit(unit: str) -> None:
        if unit not in _UNITS:
            raise ValueError(ERR_INVALID_UNIT)

    def _ocr(self, on_progress: Callable[[int], None] | None = None) -> PageResult:
        """DoOCR analog (reference src/lib.cpp:325-336): memoized; progress is
        monotone and always ends with an explicit 100 — a memoized re-run
        emits exactly [100] (pinned by test/ocr-engine-test.js:309-338)."""
        img = self._check_image()
        if self._result is None:
            if on_progress:
                for pct in (0, 50):
                    on_progress(pct)
            self._result = process_rgba(
                img, with_text=True, with_orientation=False,
                variables=self._variables.as_dict(), lang=self._lang,
            )
        if on_progress:
            on_progress(100)
        return self._result

    def _layout(self) -> PageResult:
        img = self._check_image()
        if self._layout_result is None:
            self._layout_result = process_rgba(img, with_text=False, with_orientation=False)
        return self._layout_result

    def getBoundingBoxes(self, unit: str) -> list[dict]:
        """Layout-only boxes; works with no model (reference src/lib.cpp:197-203).
        After OCR they are the recognized word and line rects, as
        outputs.layout_df gives (reference comment src/ocr-engine.ts:236-239):
        the degraded-scan tier re-aligns and splits the segmentation's words."""
        self._check_unit(unit)
        if self._result is not None:
            # the empty-page quirk row is a text box, not a layout box
            words = [w for w in self._result.words if w.text or w.right]
        else:
            # before OCR: the segmentation's boxes, grouped by its line ids
            words = [WordBox(i, li, l, t, r, b, 0, 0.0, "", 0)
                     for i, (l, t, r, b, _, li) in enumerate(self._layout().layout_boxes)]
        items = [_word_item(w) for w in words] if unit == "word" else _line_items(words)
        return [{"rect": it["rect"], "flags": 0} for it in items]

    def getTextBoxes(self, unit: str, on_progress=None) -> list[dict]:
        self._check_unit(unit)
        self._check_model()
        res = self._ocr(on_progress)
        if unit == "word":
            return [_word_item(w) for w in res.words]
        return _line_items(res.words)

    def getText(self, on_progress=None) -> str:
        self._check_model()
        return self._ocr(on_progress).page_text

    def getOrientation(self) -> dict:
        """Computed on the first call only: text and layout queries skip the
        orientation pass, which is the page's costliest stage."""
        img = self._check_image()
        if self._orientation is None:
            res = process_rgba(img, with_text=False, with_orientation=True)
            self._orientation = (res.rotation, res.orient_confidence)
        rotation, confidence = self._orientation
        return {"rotation": rotation, "confidence": confidence}

    def getHOCR(self, on_progress=None) -> str:
        """Single-page hOCR via the same renderer the DataFrame path uses."""
        self._check_model()
        res = self._ocr(on_progress)
        return _render_hocr_local(res)


def createOCREngine() -> OCREngine:
    """Factory mirroring the reference's createOCREngine
    (src/ocr-engine.ts:383-401)."""
    return OCREngine()


def _word_item(w: WordBox) -> dict:
    return {
        "rect": {"left": w.left, "top": w.top, "right": w.right, "bottom": w.bottom},
        "flags": w.flags,
        "confidence": w.confidence,
        "text": w.text,
        "line_id": w.line_id,
        "word_id": w.word_id,
    }


def _line_items(words: list[WordBox]) -> list[dict]:
    lines: dict[int, list[WordBox]] = {}
    for w in words:
        lines.setdefault(w.line_id, []).append(w)
    out = []
    for li in sorted(lines):
        ws = sorted(lines[li], key=lambda w: w.word_id)
        text = " ".join(w.text for w in ws) + "\n" if any(w.text for w in ws) else ""
        out.append(
            {
                "rect": {
                    "left": min(w.left for w in ws),
                    "top": min(w.top for w in ws),
                    "right": max(w.right for w in ws),
                    "bottom": max(w.bottom for w in ws),
                },
                "flags": 0,
                "confidence": float(np.mean([w.confidence for w in ws])),
                "text": text,
                "line_id": li,
            }
        )
    return out


def _render_hocr_local(res: PageResult) -> str:
    """Driver-side single-page hOCR (same structure as outputs.hocr_df)."""
    from tesseract_wasm_spark.font import BASELINE_ROW, CELL_H, DESC_BOTTOM, XHEIGHT_TOP  # noqa: PLC0415
    from tesseract_wasm_spark.outputs import _HOCR_FOOTER, _HOCR_HEADER  # noqa: PLC0415

    lines: dict[int, list[WordBox]] = {}
    for w in res.words:
        if w.text:
            lines.setdefault(w.line_id, []).append(w)
    if not lines:
        page = f"  <div class='ocr_page' id='page_1' title='bbox 0 0 {res.width} {res.height}'>\n  </div>"
        return _HOCR_HEADER + page + "\n" + _HOCR_FOOTER
    import math  # noqa: PLC0415

    slope = repr(round(math.tan(math.radians(res.skew_degrees)), 4))

    def render_line(li: int, ws: list[WordBox]) -> str:
        ws = sorted(ws, key=lambda w: w.word_id)
        l, t = min(w.left for w in ws), min(w.top for w in ws)
        r, b = max(w.right for w in ws), max(w.bottom for w in ws)
        baseline = ws[0].baseline
        spans = "\n".join(
            "      <span class='ocrx_word' id='word_1_%d' title='bbox %d %d %d %d; x_wconf %d'>%s</span>"
            % (w.word_id + 1, w.left, w.top, w.right + 1, w.bottom + 1, round(w.confidence * 100), _esc(w.text))
            for w in ws
        )
        return (
            "     <span class='ocr_line' id='line_1_%d' title=\"bbox %d %d %d %d; baseline %s %d; "
            "x_size %d; x_descenders %d; x_ascenders %d\">\n%s\n     </span>"
            % (
                li + 1, l, t, r + 1, b + 1,
                slope,
                baseline - b,  # offset from bbox bottom (<= 0)
                b - t + 1,
                b - baseline,
                max(0, (baseline - t) - (BASELINE_ROW - XHEIGHT_TOP)),
                spans,
            )
        )

    # lines -> careas (one ocr_carea/ocr_par per block, reference FindBlocks
    # structure) -> page div; same shape as outputs.hocr_df (tested equal)
    by_block: dict[int, dict[int, list[WordBox]]] = {}
    for li, ws in lines.items():
        by_block.setdefault(ws[0].block_id, {})[li] = ws
    block_divs = []
    for bi in sorted(by_block):
        blines = by_block[bi]
        all_w = [w for ws in blines.values() for w in ws]
        l, t = min(w.left for w in all_w), min(w.top for w in all_w)
        r, b = max(w.right for w in all_w) + 1, max(w.bottom for w in all_w) + 1
        lines_html = "\n".join(render_line(li, blines[li]) for li in sorted(blines))
        block_divs.append(
            f"   <div class='ocr_carea' id='block_1_{bi + 1}' title=\"bbox {l} {t} {r} {b}\">\n"
            f"    <p class='ocr_par' id='par_1_{bi + 1}' title=\"bbox {l} {t} {r} {b}\">\n"
            + lines_html
            + "\n    </p>\n   </div>"
        )
    page = (
        f"  <div class='ocr_page' id='page_1' title='bbox 0 0 {res.width} {res.height}'>\n"
        + "\n".join(block_divs)
        + "\n  </div>"
    )
    return _HOCR_HEADER + page + "\n" + _HOCR_FOOTER


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
