"""API-parity layer: a stateful single-page OCREngine mirroring the reference.

The reference's public surface is the ``OCREngine`` class
(src/ocr-engine.ts:91-338) + async ``OCRClient`` mirror (src/ocr-client.ts).
In Spark the distributed path is ``pipeline.ocr_pages`` (state-free, per-row);
this module keeps the *sequential* API so a user of the reference can port
call-for-call — same state machine, same precondition errors, same result
shapes — and so the reference's behavioral protocol tests (progress, memoized
re-run, clear-image invalidation — test/ocr-engine-test.js:309-363) have a
direct analog to run against.

Only the state machine lives here. A page goes through the same stages of
``engine.page`` that ``process_rgba`` runs for the Spark mappers, and its
items and hOCR come from the Python twins in ``outputs``, so each answer
equals the Spark row of the same page (tests/test_api_parity.py).

As in the reference, layout runs once per loaded image (its
``layout_analysis_done_`` and ``ocr_done_`` guards, src/lib.cpp:197-201,
325-331): the engine keeps one memo per stage. Orientation and recognition
both build on the layout memo, and recognition never edits it.
``loadImage`` and ``clearImage`` drop all three memos; ``loadModel`` and
``setVariable`` drop only recognition's.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from tesseract_wasm_spark import drf
from tesseract_wasm_spark.config import VariableStore
from tesseract_wasm_spark.engine.page import (
    PageLayout, PageResult, layout_stage, orientation_stage, recognition_stage,
)
from tesseract_wasm_spark.outputs import box_items, page_hocr, text_items

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
    via the lang column (SURVEY.md §2.1 S4). A TWSM2 blob
    (lstm_ctc.export_lstm_model) also carries LSTM weights: while one is
    loaded, pages are recognized by the lstm recognizer from those weights,
    as ``ocr_pages(recognizer="lstm", model_blob=...)`` recognizes them.
    """

    def __init__(self) -> None:
        self._model_loaded = False
        self._lang = "eng"
        self._lstm_model: tuple | None = None
        self._image: np.ndarray | None = None
        self._layout: PageLayout | None = None
        self._orientation: PageResult | None = None
        self._result: PageResult | None = None
        self._variables = VariableStore()

    # --- model / image lifecycle -------------------------------------
    def loadModel(self, model: bytes) -> None:
        from tesseract_wasm_spark.font import parse_model  # noqa: PLC0415

        if not isinstance(model, (bytes, bytearray)) or len(model) == 0:
            raise ValueError(ERR_MODEL_LOAD)
        try:
            if bytes(model[:5]) == b"TWSM2":
                # trained-weight blob: the weights stay on this engine and
                # reach recognition as its lstm_model argument, never as
                # process-global state
                from tesseract_wasm_spark.engine.lstm_ctc import (  # noqa: PLC0415
                    parse_lstm_model,
                )

                lang, lstm_model = parse_lstm_model(model)
            else:
                lang, lstm_model = parse_model(model), None
        except ValueError as exc:
            raise ValueError(ERR_MODEL_LOAD) from exc
        self._lang, self._lstm_model = lang, lstm_model
        self._model_loaded = True
        self._result = None  # a new model invalidates recognition results

    def loadImage(self, image) -> None:
        """Accepts uint8[H,W,4] ndarray, DRF bytes, or an ImageData-style dict
        {"data": bytes-like, "width": int, "height": int} (the reference's
        input normalization — src/ocr-engine.ts:171-210)."""
        # clear previous state *before* staging the new image (peak-memory
        # discipline — reference src/ocr-engine.ts:186-203)
        self.clearImage()
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
        self._image = self._layout = self._orientation = self._result = None

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

    def _page(self) -> PageLayout:
        """AnalyseLayout analog (reference src/lib.cpp:197-201): once per image."""
        img = self._check_image()
        if self._layout is None:
            self._layout = layout_stage(img)
        return self._layout

    def _ocr(self, on_progress: Callable[[int], None] | None = None) -> PageResult:
        """DoOCR analog (reference src/lib.cpp:325-336): memoized; progress is
        monotone and always ends with an explicit 100 — a memoized re-run
        emits exactly [100] (pinned by test/ocr-engine-test.js:309-338)."""
        self._check_image()
        if self._result is None:
            if on_progress:
                for pct in (0, 50):
                    on_progress(pct)
            page = self._page()
            self._result = recognition_stage(
                page, page.result, variables=self._variables.as_dict(), lang=self._lang,
                recognizer="template" if self._lstm_model is None else "lstm",
                lstm_model=self._lstm_model,
            )
        if on_progress:
            on_progress(100)
        return self._result

    def getBoundingBoxes(self, unit: str) -> list[dict]:
        """Layout-only boxes; works with no model (reference src/lib.cpp:197-203).
        After OCR they are the recognized word and line rects, as
        outputs.layout_df gives (reference comment src/ocr-engine.ts:236-239):
        the degraded-scan tier re-aligns and splits the segmentation's words."""
        self._check_unit(unit)
        return box_items(self._result if self._result is not None else self._page().result, unit)

    def getTextBoxes(self, unit: str, on_progress=None) -> list[dict]:
        self._check_unit(unit)
        self._check_model()
        res = self._ocr(on_progress)
        if unit == "line" and not res.layout_boxes:
            # an empty page's one text box holds at line level too (the
            # reference quirk, test/ocr-engine-test.js:211-229); lines_df
            # drops it
            return [{"rect": {"left": 0, "top": 0, "right": 0, "bottom": 0},
                     "flags": 0, "confidence": 0.0, "text": "", "line_id": 0}]
        return text_items(res.words, unit)

    def getText(self, on_progress=None) -> str:
        self._check_model()
        return self._ocr(on_progress).page_text

    def getOrientation(self) -> dict:
        """Computed on the first call only: text and layout queries skip the
        orientation pass, which is the page's costliest stage."""
        if self._orientation is None:
            page = self._page()
            self._orientation = orientation_stage(page, page.result)
        res = self._orientation
        return {"rotation": res.rotation, "confidence": res.orient_confidence}

    def getHOCR(self, on_progress=None) -> str:
        """Single-page hOCR from outputs.hocr_df's templates and rules."""
        self._check_model()
        return page_hocr(self._ocr(on_progress))


def createOCREngine() -> OCREngine:
    """Factory mirroring the reference's createOCREngine
    (src/ocr-engine.ts:383-401)."""
    return OCREngine()
