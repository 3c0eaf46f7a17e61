"""P5 v2 — LSTM sequence recognizer + CTC decoding over line images.

The reference's recognition stage is an LSTM running over x-strips of each
text line with CTC decoding (reference: src/lib.cpp:325-336 Recognize;
LSTM-only build, Makefile:108 -DDISABLED_LEGACY_ENGINE=ON; SIMD dot-product
path src/tesseract-init.js:30-39). This module reproduces that *architecture*
in numpy:

  - a real LSTM forward pass (gates, cell state, tanh saturation) consuming
    one 11-pixel column of the line band per timestep;
  - per-timestep logits over (glyphs + CTC blank);
  - CTC best-path decoding (argmax per frame, repeats collapsed, blanks
    dropped).

No trained model exists in this environment, so the weights are *constructed*
instead of learned — the LSTM's input/recurrent weights implement a 5-column
shift register in the cell state (saturated gates), and the output layer
scores the registered 55-bit window against every glyph template such that
logit(char) = -alpha * hamming(window, template) and logit(blank) sits between
the exact-match score (0) and any 1-bit mismatch (-alpha). Best-path CTC then
emits a char exactly at each glyph's final column and blank elsewhere.
The construction is exact, so the decoder provably agrees with the primary
bitpacked template matcher on clean renders; tests assert that agreement.

This is the v2 path behind the same recognizer interface (SURVEY.md §7);
the bitpacked matcher stays the production fast path.
"""

from __future__ import annotations

from dataclasses import replace
from functools import lru_cache

import numpy as np

from tesseract_wasm_spark.engine.segment import Line
from tesseract_wasm_spark.font import ADV, BASELINE_ROW, CELL_H, CELL_W, template_matrix

BIG = 50.0  # gate saturation: sigmoid(±BIG) ∈ {0,1}, tanh(BIG) = 1 to fp precision
ALPHA = float(np.tanh(1.0))  # stable hidden activation level for a set bit


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


class NumpyLSTM:
    """Minimal batched LSTM: x [T, D] -> h [T, H]."""

    def __init__(self, w_x: np.ndarray, w_h: np.ndarray, b: np.ndarray) -> None:
        # gate order: i, f, g, o (each H wide)
        self.w_x = w_x
        self.w_h = w_h
        self.b = b
        self.hidden = w_h.shape[0]

    def forward(self, x: np.ndarray) -> np.ndarray:
        return self.forward_batch(x[None, :, :])[0]

    def forward_batch(self, x: np.ndarray) -> np.ndarray:
        """x [B, T, D] -> h [B, T, H]: the recurrence is sequential in T but
        all B sequences (the words of a line) step together, so the Python
        loop runs max-T times instead of sum-of-T times."""
        bsz, t_steps, _ = x.shape
        hh = self.hidden
        h = np.zeros((bsz, hh))
        c = np.zeros((bsz, hh))
        out = np.empty((bsz, t_steps, hh))
        xz = x.reshape(bsz * t_steps, -1) @ self.w_x  # precompute input term
        xz = xz.reshape(bsz, t_steps, -1)
        for t in range(t_steps):
            z = xz[:, t, :] + h @ self.w_h + self.b
            i = _sigmoid(z[:, :hh])
            f = _sigmoid(z[:, hh : 2 * hh])
            g = np.tanh(z[:, 2 * hh : 3 * hh])
            o = _sigmoid(z[:, 3 * hh :])
            c = f * c + i * g
            h = o * np.tanh(c)
            out[:, t, :] = h
        return out


@lru_cache(maxsize=None)
def build_recognizer(lang: str = "eng") -> tuple[NumpyLSTM, np.ndarray, np.ndarray, str]:
    """Construct (lstm, w_out, b_out, chars) for ``lang``: the built-in
    weights. A TWSM2 blob's weights reach recognition only explicitly, as
    the ``model`` tuple (parse_lstm_model).

    Hidden layout: 5 blocks of CELL_H units; block 0 mirrors the current
    column, block j the column j steps back. Shift register via saturated
    gates: i=1, f=0, o=1; g(block 0) = tanh(BIG * x_t), g(block j) =
    tanh(BIG * h[block j-1]).
    """
    d_in = CELL_H
    hidden = CELL_H * CELL_W  # 55
    w_x = np.zeros((d_in, 4 * hidden))
    w_h = np.zeros((hidden, 4 * hidden))
    b = np.zeros(4 * hidden)
    b[:hidden] = BIG  # input gate always open
    b[hidden : 2 * hidden] = -BIG  # forget gate always closed (pure shift)
    b[3 * hidden :] = BIG  # output gate always open
    g0 = 2 * hidden  # offset of the g-gate block
    for u in range(CELL_H):
        w_x[u, g0 + u] = BIG  # block 0 <- current column
    for j in range(1, CELL_W):
        for u in range(CELL_H):
            # block j <- previous h of block j-1 (h level is 0 or ALPHA)
            w_h[(j - 1) * CELL_H + u, g0 + j * CELL_H + u] = BIG / ALPHA * 2
    lstm = NumpyLSTM(w_x, w_h, b)

    templates, chars = template_matrix(lang)  # [G, CELL_H*CELL_W] bool, row-major cells
    g_count = len(chars)
    # hidden state at time t holds columns [x_t, x_{t-1}, ..., x_{t-4}] =
    # template columns [4, 3, 2, 1, 0]; build W so logit = -ALPHA * hamming
    w_out = np.zeros((hidden, g_count + 1))
    b_out = np.zeros(g_count + 1)
    t3 = templates.reshape(g_count, CELL_H, CELL_W)
    for gi in range(g_count):
        for j in range(CELL_W):  # hidden block j = template column CELL_W-1-j
            col = t3[gi, :, CELL_W - 1 - j].astype(np.float64)
            sign = 2 * col - 1  # +1 for ink, -1 for background
            w_out[j * CELL_H : (j + 1) * CELL_H, gi] = sign / ALPHA
        b_out[gi] = -float(t3[gi].sum())  # subtract ink count -> -hamming
    b_out[g_count] = -0.5  # blank: beats any >=1-bit mismatch, loses to exact
    return lstm, w_out, b_out, chars


def ctc_best_path(logits: np.ndarray, blank: int) -> list[int]:
    """Greedy CTC decode: argmax per frame, collapse repeats, drop blanks."""
    path = np.argmax(logits, axis=1)
    out: list[int] = []
    prev = -1
    for p in path:
        if p != prev and p != blank:
            out.append(int(p))
        prev = int(p)
    return out


def recognize_page_lstm_scored(
    mask: np.ndarray, lines: list[Line], *, whitelist: str | None = None,
    lang: str = "eng", model: tuple | None = None,
) -> list[list[tuple[str, float]]]:
    """Per line, per word: (text, confidence) — ONE batched LSTM forward for
    the whole page (every word of every line steps the recurrence together,
    so the sequential-T Python loop runs max-word-span times per page instead
    of per line). Confidence = mean softmax probability of the emitted
    (non-blank) frames — the CTC analog of the reference's per-word
    percentage confidence (src/lib.cpp:302-304). ``whitelist`` masks
    non-whitelisted glyph logits (tessedit_char_whitelist); ``lang`` selects
    the glyph model the output layer scores against.

    Lines whose decode is not all-frames-exact retry DESC_ROWS higher (the
    all-descender baseline correction, mirroring recognize.py:181-201) in a
    second, smaller batch; a retry is accepted only on a perfect decode, and
    a copy of the line at the new baseline replaces its entry in ``lines``.

    ``model``: an explicit (lstm, w_out, b_out, chars) tuple — the
    trained-weight path. EXPLICIT by design: Spark reuses python worker
    processes across jobs, so registering weights in a worker-global would
    leak one job's model into the next (a tamper test polluted an unrelated
    job's workers before this parameter existed)."""
    lstm, w_out, b_out, chars = model if model is not None else build_recognizer(lang)
    blank = len(chars)
    if whitelist:
        allowed = set(whitelist)
        if any(c in allowed for c in chars):
            banned = np.array([c not in allowed for c in chars] + [False])
            b_out = b_out.copy()
            b_out[banned] = -1e30
    results, exact = _decode_lines_batch(
        mask, lines, [line.baseline for line in lines],
        lstm, w_out, b_out, chars, blank,
    )
    retry_idx = [li for li, ok in enumerate(exact) if not ok and lines[li].words]
    if retry_idx:
        from tesseract_wasm_spark.engine.segment import DESC_ROWS  # noqa: PLC0415

        retry_res, retry_ok = _decode_lines_batch(
            mask, [lines[li] for li in retry_idx],
            [lines[li].baseline - DESC_ROWS for li in retry_idx],
            lstm, w_out, b_out, chars, blank,
        )
        for k, li in enumerate(retry_idx):
            if retry_ok[k]:
                results[li] = retry_res[k]
                lines[li] = replace(lines[li], baseline=lines[li].baseline - DESC_ROWS)
    return results


def _decode_lines_batch(
    mask: np.ndarray, lines: list[Line], baselines: list[int],
    lstm, w_out, b_out, chars, blank: int,
) -> tuple[list[list[tuple[str, float]]], list[bool]]:
    """One LSTM+CTC pass over every word of the given lines at the given
    per-line baseline anchors. Returns (per-line word results, per-line
    all_exact) where all_exact means every emitted frame was a bit-exact
    template hit (max logit == 0 by the -hamming construction)."""
    h, w = mask.shape
    specs: list[tuple[int, int, int, int]] = []  # (li, anchor, span, r0)
    for li, (line, baseline) in enumerate(zip(lines, baselines)):
        r0 = baseline - BASELINE_ROW
        for word in line.words:
            anchor = word.pen_left if word.pen_left >= 0 else word.left
            width = word.right - anchor + 1
            n = max(1, -(-width // ADV))
            specs.append((li, anchor, n * ADV - 1, r0))
    results: list[list[tuple[str, float]]] = [[] for _ in lines]
    if not specs:
        return results, [True] * len(lines)
    # every word band padded to the page's max span; frames beyond a word's
    # true length are sliced off before decoding, so padding never reaches
    # the decoder
    t_max = max(s for _, _, s, _ in specs)
    x_all = np.zeros((len(specs), t_max, CELL_H))
    for bi, (li, anchor, span, r0) in enumerate(specs):
        sr0, sr1 = max(r0, 0), min(r0 + CELL_H, h)
        sc0, sc1 = max(anchor, 0), min(anchor + span, w)
        if sr0 < sr1 and sc0 < sc1:
            x_all[bi, sc0 - anchor : sc1 - anchor, sr0 - r0 : sr1 - r0] = (
                mask[sr0:sr1, sc0:sc1].T
            )
    hidden_all = lstm.forward_batch(x_all)  # [B, T_max, H]
    all_exact = [True] * len(lines)
    for bi, (li, anchor, span, r0) in enumerate(specs):
        logits = hidden_all[bi, :span, :] @ w_out + b_out
        seq = ctc_best_path(logits, blank)
        # confidence: mean softmax prob of emitted frames along the greedy
        # path. The constructed logits are hamming distances (unit margins);
        # sharpen them so the probabilities reflect the construction's
        # certainty.
        sharp = logits * 20.0
        z = sharp - sharp.max(axis=1, keepdims=True)
        log_probs = z - np.log(np.exp(z).sum(axis=1, keepdims=True))
        path = np.argmax(logits, axis=1)
        emit = path != blank
        if emit.any():
            conf = float(np.exp(log_probs[np.arange(len(path)), path][emit]).mean())
            if logits[np.arange(len(path)), path][emit].min() < -1e-6:
                all_exact[li] = False
        else:
            conf = 0.0
            all_exact[li] = False
        results[li].append(("".join(chars[s] for s in seq), conf))
    return results, all_exact


# --- weight blob (the trained-.traineddata shape) ---------------------------
#
# TWSM1 (font.export_model) carries model IDENTITY — the template weights are
# a pure function of (lang). TWSM2 carries the ACTUAL LSTM tensors, the shape
# a genuinely trained model ships in: load it and recognition runs from the
# blob's weights, not from anything reconstructed in-process (tamper test
# pins this). Layout: magic | sha256(body) | body, body = meta-length(4BE) |
# meta json {lang, chars} | npz(w_x, w_h, b, w_out, b_out). At cluster scale
# the driver parses the blob once and the task closure carries the weights
# tuple (pipeline._bind_engine); no process-global registry exists.

LSTM_MODEL_MAGIC = b"TWSM2"


def _pack_lstm_model(lang: str, chars: str, w_x, w_h, b, w_out, b_out) -> bytes:
    import hashlib
    import io
    import json

    buf = io.BytesIO()
    np.savez(buf, w_x=w_x, w_h=w_h, b=b, w_out=w_out, b_out=b_out)
    meta = json.dumps({"lang": lang, "chars": chars}).encode("utf-8")
    body = len(meta).to_bytes(4, "big") + meta + buf.getvalue()
    return LSTM_MODEL_MAGIC + hashlib.sha256(body).digest() + body


def export_lstm_model(lang: str = "eng") -> bytes:
    """Serialize the language's full LSTM recognizer (weights + output layer
    + charset) as a validated blob."""
    lstm, w_out, b_out, chars = build_recognizer(lang)
    return _pack_lstm_model(lang, chars, lstm.w_x, lstm.w_h, lstm.b, w_out, b_out)


def parse_lstm_model(blob: bytes) -> tuple[str, tuple]:
    """Validate a TWSM2 blob -> (lang, (NumpyLSTM, w_out, b_out, chars));
    raises ValueError on any malformed/corrupt/truncated input."""
    import hashlib
    import io
    import json

    blob = bytes(blob)
    m = len(LSTM_MODEL_MAGIC)
    if len(blob) < m + 32 or blob[:m] != LSTM_MODEL_MAGIC:
        raise ValueError("bad lstm model magic")
    digest, body = blob[m : m + 32], blob[m + 32 :]
    if hashlib.sha256(body).digest() != digest:
        raise ValueError("lstm model checksum mismatch")
    n_meta = int.from_bytes(body[:4], "big")
    meta = json.loads(body[4 : 4 + n_meta].decode("utf-8"))
    arrs = np.load(io.BytesIO(body[4 + n_meta :]))
    lstm = NumpyLSTM(arrs["w_x"], arrs["w_h"], arrs["b"])
    return meta["lang"], (lstm, arrs["w_out"], arrs["b_out"], meta["chars"])
