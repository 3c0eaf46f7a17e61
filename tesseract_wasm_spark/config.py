"""P11 — validated engine configuration registry.

The reference exposes Tesseract's string->string parameter store through
getVariable/setVariable with error-on-unknown-name (reference:
src/lib.cpp:150-170; src/ocr-engine.ts:128-150; round-trip pinned by
test/ocr-engine-test.js:131-138 using ``user_defined_dpi``). Our engine keeps
the same shape: a known-keys registry, string values, exact reference error
messages on unknown names.

Every variable except ``user_defined_dpi`` is CONSUMED by the engine
(engine/page.py:recognition_stage documents the behavioral effect of each;
tests/test_config_behavior.py pins them): the whitelist restricts the emit
alphabet and preserve_interword_spaces keeps measured gaps. The engine's
own thresholds are constants, not variables (recognize.MIN_PARTIAL_OVERLAP,
orientation.DECISION_MARGIN), and the degraded-scan tier is always on.
``user_defined_dpi`` is round-trip-only because the synthetic raster model
has no physical DPI (the reference test itself only round-trips it).
"""

from __future__ import annotations

ERR_GET = "Unable to get variable {name}"  # reference: src/ocr-engine.ts:131
ERR_SET = "Unable to set variable {name}"  # reference: src/ocr-engine.ts:148

#: Known variables and defaults. The subset of Tesseract's parameter space our
#: pipeline actually interprets, plus user_defined_dpi for reference-test
#: parity (test/ocr-engine-test.js:131-138).
DEFAULT_VARIABLES: dict[str, str] = {
    "user_defined_dpi": "300",
    "tessedit_char_whitelist": "",
    "preserve_interword_spaces": "0",
}


class VariableStore:
    def __init__(self) -> None:
        self._vars = dict(DEFAULT_VARIABLES)

    def get(self, name: str) -> str:
        if name not in self._vars:
            raise ValueError(ERR_GET.format(name=name))
        return self._vars[name]

    def set(self, name: str, value: str) -> None:
        if name not in self._vars:
            raise ValueError(ERR_SET.format(name=name))
        self._vars[name] = str(value)

    def as_dict(self) -> dict[str, str]:
        return dict(self._vars)
