"""PDF text extraction — the "PDF/layout parse" axis of the north rule's
extraction tier (HTML ✓ webtext.py, images ✓ OCR engine, PDF here).

Two tiers share one operator grammar:

- the EXPRESSION path (pdf_text_expr): uncompressed content streams parsed
  entirely in whole-stage-codegen expressions, with a DuckDB twin running
  the identical regexes — the full-dual-derivation oracle tier;
- the BYTE path (extract_pdf_bytes): the real-world container — FlateDecode
  (+ /DecodeParms PNG/TIFF predictors), classic xref tables AND PDF 1.5
  /Type /XRef cross-reference streams, /Type /ObjStm object streams
  (expanded so packed fonts/pages are visible), simple-font /Encoding
  /Differences tables (inline or indirect), and Type0/CID composite fonts
  decoded through /ToUnicode CMaps (bfchar/bfrange, both dst forms).

Only the expression path is pure JVM expressions: like webtext.py its
RE2-safe regexes let the DuckDB oracle (queries.SQL_PDF_TEXT) run the
IDENTICAL pipeline — a full dual derivation. The byte path is Python, run
inside pipeline.extract_any's ``mapInPandas``. The fixture generators live
in pdfgen.py.

Extraction semantics: each ``(string) Tj`` text run is one line; runs are
emitted in stream order, joined with newlines. Escapes ``\\(`` ``\\)``
``\\\\`` are decoded (sufficient for the PDF string grammar our generator
emits; octal escapes are not produced by it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# re-export: the benchmark's input builder imports the generators from here
from tesseract_wasm_spark.datapipe.pdfgen import make_modern_pdf, make_simple_pdf  # noqa: F401

#: text blocks, then show operators inside them: literal-string ``(s) Tj``,
#: hex-string ``<48..> Tj``, and kerned-array ``[(a) -120 (b)] TJ`` — the
#: operator real-world PDFs overwhelmingly use. All RE2-safe (shared verbatim
#: by the DuckDB oracle and mirrored by the byte-level path).
_BT_ET = r"(?s)BT(.*?)ET"
_STR = r"\(((?:[^\\()]|\\.)*)\)"
_HEX = r"<([0-9A-Fa-f\s]*)>"
_TJ_STRING = rf"(?s){_STR}\s*Tj"
_SHOW_OP = rf"(?s)(?:{_STR}\s*Tj|{_HEX}\s*Tj|\[((?:[^\[\]\\]|\\.)*)\]\s*TJ)"
_TJ_ELEM = rf"(?:{_STR}|{_HEX}|-?\d+(?:\.\d+)?)"

#: a TJ kern adjustment at or below this (thousandths of text-space units,
#: negative = widen) renders as an inter-word gap; smaller nudges are glyph
#: kerning inside a word. -180 is the classic extractor heuristic (word
#: spaces in body text are typically -200..-600).
TJ_SPACE_KERN = -180.0

#: documented limitation: a literal ']' inside a TJ-array string element ends
#: the array match early (RE2 has no recursion); emit such text via Tj.

#: PDF string escapes (PDF 32000-1 §7.3.4.2): \ddd octal (1-3 digits),
#: \n \r \t \b \f control shorthands, \( \) \\ literals, backslash-newline =
#: line continuation (dropped), backslash before anything else = ignored
#: backslash. One regex tokenizes the escape in a single left-to-right pass
#: (chained replaces mis-handle sequences like '\\\\(').
_PDF_ESC = r"(?s)\\([0-7]{1,3}|.)"


def _esc_char(e: Column) -> Column:
    """One captured escape body -> its character (shared semantics with the
    byte path and the DuckDB twin; octal is mod 256, codepoints U+00NN —
    latin-1, matching the byte path's decode)."""
    oct_val = F.conv(e, 8, 10).cast("int") % 256
    return (
        F.when(e.rlike("^[0-7]{1,3}$"), F.char(oct_val))
        .when(e == "n", F.lit("\n"))
        .when(e == "r", F.lit("\r"))
        .when(e == "t", F.lit("\t"))
        .when(e == "b", F.lit("\b"))
        .when(e == "f", F.lit("\f"))
        .when(e == "\n", F.lit(""))  # line continuation
        .otherwise(e)  # \( \) \\ and 'ignore the backslash' for the rest
    )


def _unescape(s: Column) -> Column:
    """Split-and-rebuild single-pass unescape (same machinery as webtext's
    numeric-entity decode; split keeps trailing empties in both engines)."""
    parts = F.split(s, _PDF_ESC)
    ents = F.regexp_extract_all(s, F.lit(_PDF_ESC), 1)
    rebuilt = F.zip_with(
        F.slice(parts, 1, F.size(ents)), ents,
        lambda p, e: F.concat(p, _esc_char(e)),
    )
    return F.concat(F.array_join(rebuilt, ""), F.element_at(parts, -1))


def _hex_text(e: Column) -> Column:
    """Hex show-string -> text. PDF 32000-1 §7.3.4.3: an odd digit count
    implies a trailing 0. Bytes decode as latin-1 — the SAME single-byte
    semantics as literal strings (_unescape_b / _esc_char), so identical
    bytes show identically regardless of operator form — unless a UTF-16BE
    BOM (FEFF) leads, the other encoding real PDFs use for text strings."""
    h = F.regexp_replace(e, "[^0-9A-Fa-f]", "")
    h = F.when(F.length(h) % 2 == 1, F.concat(h, F.lit("0"))).otherwise(h)
    raw = F.unhex(h)
    return F.when(
        F.upper(F.substring(h, 1, 4)) == "FEFF", F.decode(raw, "UTF-16")
    ).otherwise(F.decode(raw, "ISO-8859-1"))


def _elem_text(e: Column) -> Column:
    """One TJ-array element -> shown text: strings/hex decode, a kern number
    becomes a space iff it is at or below TJ_SPACE_KERN (the cast is safe:
    non-string, non-hex elements match the numeric alternative of
    _TJ_ELEM by construction)."""
    return (
        F.when(F.substring(e, 1, 1) == "(",
               _unescape(F.regexp_extract(e, "(?s)" + _STR, 1)))
        .when(F.substring(e, 1, 1) == "<", _hex_text(e))
        .otherwise(
            F.when(e.cast("double") <= F.lit(TJ_SPACE_KERN), F.lit(" ")).otherwise(F.lit(""))
        )
    )


def _op_text(op: Column) -> Column:
    tj_text = F.array_join(
        F.transform(F.regexp_extract_all(op, F.lit(_TJ_ELEM), 0), _elem_text), ""
    )
    return (
        F.when(F.substring(op, 1, 1) == "[", tj_text)
        .when(F.substring(op, 1, 1) == "<", _hex_text(op))
        .otherwise(_unescape(F.regexp_extract(op, "(?s)" + _STR, 1)))
    )


def pdf_text_expr(pdf_str: Column) -> Column:
    """Decoded PDF bytes (as string) -> extracted text, one line per show
    operator (Tj literal, Tj hex, or TJ kerned array), in stream order."""
    blocks = F.regexp_extract_all(pdf_str, F.lit(_BT_ET), 1)
    ops = F.flatten(
        F.transform(blocks, lambda b: F.regexp_extract_all(b, F.lit(_SHOW_OP), 0))
    )
    return F.array_join(F.transform(ops, _op_text), "\n")


def pdf_text(docs: DataFrame, *, pdf_col: str = "pdf_text_raw",
             id_col: str = "url") -> DataFrame:
    return docs.select(id_col, pdf_text_expr(F.col(pdf_col)).alias("text_out"))


def pdf_escape_expr(text: Column) -> Column:
    """Inverse escape for building synthetic PDFs whose extraction
    round-trips: backslash first, then parentheses."""
    out = F.replace(text, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit("("), F.lit(r"\("))
    return F.replace(out, F.lit(")"), F.lit(r"\)"))


# --- byte-level path: FlateDecode streams (the real-world PDF shape) --------

import re as _re  # noqa: E402

#: (?![\d\s]*R) — not the narrower (?!\s+\d+\s+R) — so an indirect-ref
#: '/Length 15 0 R' cannot backtrack into matching '1' (digit-prefix
#: backtracking satisfied the old lookahead); a direct length followed by
#: another key ('/Length 44 /Filter') still matches because '/' breaks the
#: class before any R
_LENGTH_RE = _re.compile(rb"/Length\s+(\d+)(?![\d\s]*R)")

#: '>> stream' keyword — the anchor the structural scanner walks BACK from
#: (balancing << >> nesting) so stream dicts may contain nested dicts like
#: /DecodeParms << /Predictor 12 /Columns 5 >>, which the old single-regex
#: tempered match could not represent
_STREAM_KW_RE = _re.compile(rb">>\s*stream(\r\n|\n|\r)")
_DICT_TOK_RE = _re.compile(rb"<<|>>")
_OBJ_HDR_TAIL_RE = _re.compile(rb"(\d+)\s+\d+\s+obj\s*$")


def _find_streams(raw: bytes) -> list[tuple[int | None, bytes, bytes]]:
    """Structural stream scan: every ``<< dict >> stream .. endstream`` in
    document order as (owning objnum | None, dict interior, raw body).
    The dict is found by balancing << >> tokens backwards from the stream
    keyword (nested dicts supported); the body is sliced by a validated
    /Length when present — a compressed stream whose last byte happens to
    be 0x0D would lose it to an EOL-tolerant terminator otherwise (a real
    1-in-256 truncation, found by the mixed-corpus soak)."""
    toks = [(m.start(), m.group()) for m in _DICT_TOK_RE.finditer(raw)]
    positions = [t[0] for t in toks]
    out: list[tuple[int | None, bytes, bytes]] = []
    import bisect  # noqa: PLC0415

    for sm in _STREAM_KW_RE.finditer(raw):
        close = sm.start()
        idx = bisect.bisect_left(positions, close)
        if idx >= len(toks) or toks[idx][0] != close:
            continue
        depth, start = 0, None
        for j in range(idx, -1, -1):
            depth += 1 if toks[j][1] == b">>" else -1
            if depth == 0:
                start = toks[j][0]
                break
        if start is None:
            continue
        head = raw[start + 2 : close]
        body_start = sm.end()
        body = None
        ln = _LENGTH_RE.search(head)
        if ln is not None:
            end = body_start + int(ln.group(1))
            if raw[end : end + 12].lstrip(b"\r\n").startswith(b"endstream"):
                body = raw[body_start:end]
        if body is None:  # wrong/placeholder/indirect /Length: EOL-sniff
            end = raw.find(b"endstream", body_start)
            if end < 0:
                continue
            body = raw[body_start:end]
            for eol in (b"\r\n", b"\n", b"\r"):
                if body.endswith(eol):
                    body = body[: -len(eol)]
                    break
        hdr = _OBJ_HDR_TAIL_RE.search(raw[max(0, start - 48) : start])
        out.append((int(hdr.group(1)) if hdr else None, head, body))
    return out


# --- PDF 1.5+ container depth: predictors, xref streams, object streams ----
#
# Post-2005 PDFs overwhelmingly store their cross-reference table as a
# compressed /Type /XRef stream (PDF 32000-1 §7.5.8, usually behind a PNG
# Up predictor) and pack their non-stream objects — fonts, pages, encoding
# dicts, resource dicts — into /Type /ObjStm object streams (§7.5.7). A
# linear obj..endobj scan alone cannot see inside an ObjStm, so fonts and
# page dicts would be invisible. The reference has no PDF tier (this is the
# north rule's "PDF/layout parse" axis); semantics follow the public spec.

_PRED_RE = _re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = _re.compile(rb"/Columns\s+(\d+)")
_COLORS_RE = _re.compile(rb"/Colors\s+(\d+)")
_BPC_RE = _re.compile(rb"/BitsPerComponent\s+(\d+)")
_NUMKEY = {
    b"/N": _re.compile(rb"/N\s+(\d+)"),
    b"/First": _re.compile(rb"/First\s+(\d+)"),
    b"/Prev": _re.compile(rb"/Prev\s+(\d+)"),
    b"/Size": _re.compile(rb"/Size\s+(\d+)"),
}


def _png_predictor_decode(data: bytes, columns: int, colors: int = 1,
                          bpc: int = 8) -> bytes:
    """PNG row predictors (RFC 2083 filters None/Sub/Up/Average/Paeth) as
    used by /Predictor 10-15. Row-at-a-time reconstruction; xref/ObjStm
    streams are tiny (tens of bytes per row), so the Python loop is noise
    next to the zlib inflate."""
    bpp = max(1, (colors * bpc + 7) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    while pos < len(data):
        ft = data[pos]
        pos += 1
        row = bytearray(data[pos : pos + row_len])
        pos += row_len
        if ft == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _apply_predictor(head: bytes, data: bytes) -> bytes:
    """Undo a /DecodeParms predictor (TIFF 2 or PNG 10-15) after inflate.
    No /DecodeParms or /Predictor <= 1: identity."""
    pm = _PRED_RE.search(head)
    if pm is None:
        return data
    pred = int(pm.group(1))
    if pred <= 1:
        return data
    cm = _COLUMNS_RE.search(head)
    columns = int(cm.group(1)) if cm else 1
    colm = _COLORS_RE.search(head)
    colors = int(colm.group(1)) if colm else 1
    bm = _BPC_RE.search(head)
    bpc = int(bm.group(1)) if bm else 8
    if pred == 2:  # TIFF horizontal differencing (byte-aligned case)
        bpp = max(1, (colors * bpc + 7) // 8)
        row_len = (columns * colors * bpc + 7) // 8
        out = bytearray(data)
        for r0 in range(0, len(out), row_len):
            for i in range(r0 + bpp, min(r0 + row_len, len(out))):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    return _png_predictor_decode(data, columns, colors, bpc)


#: /Filter may be a single name or an ARRAY of names applied as a cascade
#: (e.g. [/ASCII85Decode /FlateDecode] — the transfer-armored form real
#: generators emit); decode order is first-to-last (§7.4)
_FILTER_RE = _re.compile(
    rb"/Filter\s*(?:\[((?:\s*/[A-Za-z0-9]+)+)\s*\]|/([A-Za-z0-9]+))"
)
_NAME_RE = _re.compile(rb"/([A-Za-z0-9]+)")


def _ascii85_decode(body: bytes) -> bytes:
    """ASCII85Decode (§7.4.3): base-85 groups, 'z' shorthand for four zero
    bytes, whitespace ignored, terminated by '~>'. stdlib a85decode matches
    the PDF variant exactly (Adobe framing)."""
    import base64  # noqa: PLC0415

    end = body.find(b"~>")
    if end >= 0:
        body = body[:end]
    return base64.a85decode(b"".join(body.split()))


def _asciihex_decode(body: bytes) -> bytes:
    """ASCIIHexDecode (§7.4.2): hex pairs, whitespace ignored, '>' EOD, odd
    digit count implies a trailing 0 — the same rule as hex show strings."""
    end = body.find(b">")
    if end >= 0:
        body = body[:end]
    h = b"".join(body.split())
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii"))


def _runlength_decode(body: bytes) -> bytes:
    """RunLengthDecode (§7.4.5): length byte L — L <= 127 copies the next
    L+1 bytes, L >= 129 repeats the next byte 257-L times, 128 is EOD."""
    out = bytearray()
    pos = 0
    while pos < len(body):
        ln = body[pos]
        pos += 1
        if ln == 128:
            break
        if ln <= 127:
            out += body[pos : pos + ln + 1]
            pos += ln + 1
        else:
            out += body[pos : pos + 1] * (257 - ln)
            pos += 1
    return bytes(out)


def _lzw_decode(body: bytes) -> bytes:
    """LZWDecode (§7.4.4): the TIFF/PDF LZW variant — 8-bit codes growing
    9..12 bits MSB-first, code 256 = clear table, 257 = EOD, and the
    'early change' convention (code width bumps one code BEFORE the table
    fills, the PDF default EarlyChange=1)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in body:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # early change (EarlyChange=1 default): the decoder's table lags
            # the encoder's by one entry, so it widens at 2^w - 2 — one
            # earlier than the non-early 2^w - 1
            if len(table) + 2 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _maybe_inflate(head: bytes, body: bytes) -> bytes | None:
    """Stream body -> decoded bytes through the /Filter cascade:
    ASCIIHexDecode / ASCII85Decode (transfer armor), RunLengthDecode,
    LZWDecode, FlateDecode (+ /DecodeParms predictor after either
    compression filter). Identity for plain streams; None for a corrupt
    or unsupported decode (error-as-value: skip the stream, never throw —
    image filters like DCTDecode/JPXDecode are compressed pixel data, not
    text, and correctly fall out here)."""
    fm = _FILTER_RE.search(head)
    if fm is None:
        return body
    if fm.group(2) is not None:
        filters = [fm.group(2)]
    else:
        filters = [m.group(1) for m in _NAME_RE.finditer(fm.group(1))]
    import zlib  # noqa: PLC0415

    data = body
    for name in filters:
        try:
            if name == b"FlateDecode":
                data = _apply_predictor(head, zlib.decompress(data))
            elif name == b"LZWDecode":
                data = _apply_predictor(head, _lzw_decode(data))
            elif name == b"ASCII85Decode":
                data = _ascii85_decode(data)
            elif name == b"ASCIIHexDecode":
                data = _asciihex_decode(data)
            elif name == b"RunLengthDecode":
                data = _runlength_decode(data)
            else:
                return None  # DCTDecode/JPXDecode/CCITT...: not text streams
        except Exception:
            return None  # corrupt stream: skip, never throw
    return data


def _parse_objstm(head: bytes, data: bytes) -> dict[int, bytes]:
    """Inflated /Type /ObjStm payload -> {objnum: object body bytes}. The
    first /First bytes hold N (objnum, offset) integer pairs; bodies are
    offset-sliced (§7.5.7)."""
    nm = _NUMKEY[b"/N"].search(head)
    fm = _NUMKEY[b"/First"].search(head)
    if nm is None or fm is None:
        return {}
    n, first = int(nm.group(1)), int(fm.group(1))
    nums = [int(x) for x in _re.findall(rb"\d+", data[:first])]
    pairs = list(zip(nums[0::2], nums[1::2]))[:n]
    out: dict[int, bytes] = {}
    for i, (objnum, off) in enumerate(pairs):
        end = pairs[i + 1][1] if i + 1 < len(pairs) else len(data) - first
        out[objnum] = data[first + off : first + end]
    return out


_STARTXREF_RE = _re.compile(rb"startxref\s+(\d+)")
_W_RE = _re.compile(rb"/W\s*\[([^\]]*)\]")
_INDEX_RE = _re.compile(rb"/Index\s*\[([^\]]*)\]")
_OBJ_AT_RE = _re.compile(rb"\s*(\d+)\s+(\d+)\s+obj")


def _read_balanced_dict(raw: bytes, at: int) -> tuple[bytes, int] | None:
    """(dict interior, end offset past '>>') for the << .. >> starting at or
    after ``at`` — nesting-aware (trailers and stream dicts may nest)."""
    start = raw.find(b"<<", at)
    if start < 0:
        return None
    depth = 0
    for m in _DICT_TOK_RE.finditer(raw, start):
        depth += 1 if m.group() == b"<<" else -1
        if depth == 0:
            return raw[start + 2 : m.start()], m.end()
    return None


def _parse_xref_at(raw: bytes, pos: int) -> tuple[dict[int, tuple], int | None]:
    """One cross-reference section at ``pos`` -> (entries, /Prev offset).
    Handles BOTH forms: a classic ``xref`` table (subsection headers +
    20-byte rows, trailer dict) and a PDF 1.5 /Type /XRef stream (/W field
    widths, /Index subsections, FlateDecode + predictor). Entry values:
    ('n', byte offset) for in-file objects, ('o', objstm_num, idx) for
    ObjStm members; free entries are skipped."""
    entries: dict[int, tuple] = {}
    if raw[pos : pos + 4] == b"xref":  # classic table
        t = raw.find(b"trailer", pos)
        section = raw[pos + 4 : t if t >= 0 else len(raw)]
        objnum = None
        remaining = 0
        for line in section.splitlines():
            parts = line.split()
            if len(parts) == 2 and remaining == 0:
                objnum, remaining = int(parts[0]), int(parts[1])
            elif len(parts) == 3 and remaining > 0:
                if parts[2] == b"n":
                    entries[objnum] = ("n", int(parts[0]))
                objnum += 1
                remaining -= 1
        prev = None
        if t >= 0:
            d = _read_balanced_dict(raw, t)
            if d is not None:
                pm = _NUMKEY[b"/Prev"].search(d[0])
                prev = int(pm.group(1)) if pm else None
        return entries, prev
    # xref STREAM: 'N G obj << .. >> stream'
    hm = _OBJ_AT_RE.match(raw, pos)
    if hm is None:
        return entries, None
    d = _read_balanced_dict(raw, hm.end())
    if d is None:
        return entries, None
    head, dict_end = d
    if b"/XRef" not in head:
        return entries, None
    sm = _re.compile(rb"\s*stream(\r\n|\n|\r)").match(raw, dict_end)
    if sm is None:
        return entries, None
    body_start = sm.end()
    ln = _LENGTH_RE.search(head)
    if ln is not None:
        body = raw[body_start : body_start + int(ln.group(1))]
    else:
        end = raw.find(b"endstream", body_start)
        body = raw[body_start : end if end >= 0 else len(raw)]
    data = _maybe_inflate(head, body)
    if data is None:
        return entries, None
    wm = _W_RE.search(head)
    if wm is None:
        return entries, None
    widths = [int(x) for x in _re.findall(rb"\d+", wm.group(1))]
    szm = _NUMKEY[b"/Size"].search(head)
    size = int(szm.group(1)) if szm else 0
    im = _INDEX_RE.search(head)
    if im is not None:
        nums = [int(x) for x in _re.findall(rb"\d+", im.group(1))]
        index = list(zip(nums[0::2], nums[1::2]))
    else:
        index = [(0, size)]
    row_len = sum(widths)
    pos2 = 0
    for start_num, count in index:
        for k in range(count):
            if pos2 + row_len > len(data):
                break
            fields = []
            for w in widths:
                v = int.from_bytes(data[pos2 : pos2 + w], "big") if w else None
                fields.append(v)
                pos2 += w
            ftype = fields[0] if fields[0] is not None else 1  # w=0: default 1
            num = start_num + k
            if ftype == 1:
                entries[num] = ("n", fields[1])
            elif ftype == 2:
                entries[num] = ("o", fields[1], fields[2])
    pm = _NUMKEY[b"/Prev"].search(head)
    return entries, int(pm.group(1)) if pm else None


def _xref_entries(raw: bytes) -> dict[int, tuple]:
    """Authoritative object map from the cross-reference chain: the LAST
    startxref, then /Prev links (newest section wins per objnum — the
    incremental-update rule). Returns {} when there is no usable xref; the
    caller's linear scan remains the recovery path either way."""
    last = None
    for last in _STARTXREF_RE.finditer(raw):
        pass
    if last is None:
        return {}
    entries: dict[int, tuple] = {}
    pos = int(last.group(1))
    seen: set[int] = set()
    while 0 <= pos < len(raw) and pos not in seen:
        seen.add(pos)
        section, prev = _parse_xref_at(raw, pos)
        for num, ent in section.items():
            entries.setdefault(num, ent)  # first (newest) wins
        if prev is None:
            break
        pos = prev
    return entries


def _object_at(raw: bytes, off: int) -> bytes | None:
    """Object body at a (xref-supplied) byte offset: 'N G obj' header, body
    up to 'endobj' (or up to 'stream' for stream objects — the dict is what
    object-level parsing needs). None if the offset doesn't hold one."""
    m = _OBJ_AT_RE.match(raw, off)
    if m is None:
        return None
    end_obj = raw.find(b"endobj", m.end())
    end_stream = raw.find(b"stream", m.end())
    if end_stream >= 0 and (end_obj < 0 or end_stream < end_obj):
        return raw[m.end() : end_stream]
    if end_obj >= 0:
        return raw[m.end() : end_obj]
    return None
_BT_ET_B = _re.compile(rb"(?s)BT(.*?)ET")
_STR_B = _re.compile(_STR.encode("ascii"), _re.S)
_SHOW_OP_B = _re.compile(_SHOW_OP.encode("ascii"))
_TJ_ELEM_B = _re.compile(_TJ_ELEM.encode("ascii"), _re.S)


_PDF_ESC_B = _re.compile(rb"\\([0-7]{1,3}|.)", _re.S)
_ESC_SHORT = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\x08",
              b"f": b"\x0c", b"\n": b""}


def _unescape_raw(s: bytes) -> bytes:
    def sub(m: "_re.Match[bytes]") -> bytes:
        e = m.group(1)
        if e and all(c in b"01234567" for c in e) and len(e) <= 3:
            return bytes([int(e, 8) % 256])
        return _ESC_SHORT.get(e, e)

    return _PDF_ESC_B.sub(sub, s)


def _unescape_b(s: bytes) -> str:
    return _unescape_raw(s).decode("latin-1")


# --- simple-font /Encoding /Differences support (byte path only) ------------
#
# Real crawls are full of Type1/TrueType simple fonts whose /Encoding dict
# remaps character codes via a /Differences array of glyph NAMES (PDF
# 32000-1 §9.6.6). Scope: simple (one-byte-code) fonts with a Differences
# array (inline or through an INDIRECT /Encoding object), glyph names
# resolved through an Adobe-Glyph-List subset covering ASCII + common
# Latin-1 accents; codes outside the map fall back to latin-1 identity
# (≈ StandardEncoding in the ASCII range); unknown glyph names yield
# U+FFFD. CID/Type0 composite fonts decode 2-byte codes through their
# /ToUnicode CMap (_parse_cmap above).

#: Adobe Glyph List subset: every ASCII punctuation/digit glyph name plus
#: the Latin-1 accents that appear in western-European crawls
_AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "agrave": "à", "aacute": "á", "acircumflex": "â",
    "adieresis": "ä", "ccedilla": "ç", "egrave": "è",
    "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "idieresis": "ï",
    "ntilde": "ñ", "ograve": "ò", "oacute": "ó",
    "ocircumflex": "ô", "odieresis": "ö", "ugrave": "ù",
    "uacute": "ú", "ucircumflex": "û", "udieresis": "ü",
    "germandbls": "ß", "ydieresis": "ÿ",
    "Agrave": "À", "Aacute": "Á", "Adieresis": "Ä",
    "Ccedilla": "Ç", "Egrave": "È", "Eacute": "É",
    "Ntilde": "Ñ", "Odieresis": "Ö", "Udieresis": "Ü",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
}
for _c in range(ord("A"), ord("z") + 1):  # letter glyph names are themselves
    if chr(_c).isalpha():
        _AGL.setdefault(chr(_c), chr(_c))

_OBJ_B = _re.compile(rb"(\d+)\s+\d+\s+obj(.*?)endobj", _re.S)
_DIFFS_B = _re.compile(rb"/Differences\s*\[(.*?)\]", _re.S)
_DIFF_TOK_B = _re.compile(rb"/([A-Za-z0-9.]+)|(\d+)")
_FONT_RES_B = _re.compile(rb"/Font\s*<<(.*?)>>", _re.S)
_FONT_REF_B = _re.compile(rb"/([A-Za-z0-9_.+-]+)\s+(\d+)\s+\d+\s+R")
_ENC_REF_B = _re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")
_TOUNI_REF_B = _re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")

#: a font decoder is ("simple", {code -> char}) for one-byte-code fonts with
#: an /Encoding /Differences table, or ("cid", {2-byte code -> str}) for
#: Type0 composite fonts decoded through their /ToUnicode CMap
FontDecoder = tuple


# --- Type0/CID fonts: /ToUnicode CMap decode (PDF 32000-1 §9.10.3) ----------
#
# Generated PDFs (word processors, browsers' print-to-PDF, LaTeX) dominantly
# embed subsetted Type0 fonts over /Encoding /Identity-H: show strings carry
# 2-byte glyph indexes, and the only route back to text is the font's
# /ToUnicode CMap stream — beginbfchar (singletons), beginbfrange (ranges
# with an incrementing dst or an explicit dst array), dst values UTF-16BE.

_BFCHAR_B = _re.compile(rb"beginbfchar(.*?)endbfchar", _re.S)
_BFRANGE_B = _re.compile(rb"beginbfrange(.*?)endbfrange", _re.S)
_CMAP_TOK_B = _re.compile(rb"<([0-9A-Fa-f\s]*)>|\[")
_HEXSTR_B = _re.compile(rb"<([0-9A-Fa-f\s]*)>|\]")


def _hex_int(h: bytes) -> int:
    return int(b"".join(h.split()) or b"0", 16)


def _utf16_of(h: bytes) -> str:
    hh = b"".join(h.split())
    if len(hh) % 2:
        hh += b"0"
    return bytes.fromhex(hh.decode("ascii")).decode("utf-16-be", "replace")


def _parse_cmap(data: bytes) -> dict[int, str]:
    """ToUnicode CMap stream (inflated) -> {src code -> unicode string}.
    Codespace is taken as the codes' own byte width (Identity-H sources are
    2-byte); dst hex is UTF-16BE and may be multi-code-unit (ligatures).
    bfrange increments apply to the dst's numeric value, preserving its
    byte width (§9.10.3's 'last byte varies' rule for the ranges CMaps
    actually emit)."""
    table: dict[int, str] = {}
    for sec in _BFCHAR_B.finditer(data):
        toks = [m.group(1) for m in _CMAP_TOK_B.finditer(sec.group(1))
                if m.group(1) is not None]
        for src, dst in zip(toks[0::2], toks[1::2]):
            table[_hex_int(src)] = _utf16_of(dst)
    for sec in _BFRANGE_B.finditer(data):
        body = sec.group(1)
        pos = 0
        pending: list[bytes] = []
        while True:
            m = _CMAP_TOK_B.search(body, pos)
            if m is None:
                break
            pos = m.end()
            if m.group(1) is None:  # '[' — explicit dst array form
                if len(pending) >= 2:
                    lo, hi = _hex_int(pending[-2]), _hex_int(pending[-1])
                    dsts: list[bytes] = []
                    while True:
                        am = _HEXSTR_B.search(body, pos)
                        if am is None:
                            break
                        pos = am.end()
                        if am.group(1) is None:  # ']'
                            break
                        dsts.append(am.group(1))
                    for k, d in enumerate(dsts[: hi - lo + 1]):
                        table[lo + k] = _utf16_of(d)
                pending = []
                continue
            pending.append(m.group(1))
            if len(pending) == 3:
                lo, hi = _hex_int(pending[0]), _hex_int(pending[1])
                dsth = b"".join(pending[2].split())
                base = _hex_int(dsth)
                width = max(2, len(dsth))
                for k in range(hi - lo + 1):
                    table[lo + k] = _utf16_of(
                        f"{base + k:0{width}x}".encode("ascii")
                    )
                pending = []
    return table


def _parse_fonts(objects: dict[int, bytes],
                 stream_data: dict[int, bytes]) -> dict[bytes, FontDecoder]:
    """Resource name (b'F1') -> FontDecoder over the COMPLETE object map
    (top-level objects + ObjStm members + xref-recovered objects — fonts in
    real PDFs live inside object streams). Simple fonts resolve an inline
    OR indirect /Encoding dict's /Differences through the AGL subset;
    Type0 fonts resolve their /ToUnicode CMap stream. Resource dicts from
    different pages are merged — same-name-different-font collisions (rare;
    generators number fonts globally) resolve to the LAST binding, a
    documented approximation that avoids tracking page->stream ownership."""
    decoders: dict[int, FontDecoder] = {}
    for num, body in objects.items():
        if b"/Font" not in body and b"/Type1" not in body and b"/Type0" not in body:
            continue
        if b"/Type0" in body:
            tum = _TOUNI_REF_B.search(body)
            if tum is not None:
                cmap = _parse_cmap(stream_data.get(int(tum.group(1)), b""))
                if cmap:
                    decoders[num] = ("cid", cmap)
            continue
        dm = _DIFFS_B.search(body)
        if dm is None:  # /Encoding may be an indirect object
            em = _ENC_REF_B.search(body)
            if em is not None:
                enc_body = objects.get(int(em.group(1)), b"")
                dm = _DIFFS_B.search(enc_body)
        if dm is None:
            continue
        code, table = 0, {}
        for tok in _DIFF_TOK_B.finditer(dm.group(1)):
            name, numtok = tok.group(1), tok.group(2)
            if numtok is not None:
                code = int(numtok)
            else:
                table[code] = _AGL.get(name.decode("latin-1"), "�")
                code += 1
        if table:
            decoders[num] = ("simple", table)
    if not decoders:
        return {}
    fonts: dict[bytes, FontDecoder] = {}
    allbodies = b"\n".join(objects.values())
    for rm in _FONT_RES_B.finditer(allbodies):
        for ref in _FONT_REF_B.finditer(rm.group(1)):
            objnum = int(ref.group(2))
            if objnum in decoders:
                fonts[ref.group(1)] = decoders[objnum]
    return fonts


def _decode_codes(raw: bytes, dec: FontDecoder | None) -> str:
    """Show-string bytes -> text under the active font decoder: simple
    fonts remap one-byte codes through their Differences table (everything
    else latin-1 identity — StandardEncoding agrees with latin-1 on
    printable ASCII); CID fonts consume 2-byte codes through the ToUnicode
    CMap (unmapped codes -> U+FFFD, a dangling odd byte is dropped — the
    spec's 'best effort' for a malformed Identity-H string)."""
    if not dec:
        return raw.decode("latin-1")
    kind, table = dec
    if kind == "simple":
        return "".join(table.get(b, chr(b)) for b in raw)
    return "".join(
        table.get((raw[i] << 8) | raw[i + 1], "�")
        for i in range(0, len(raw) - 1, 2)
    )


def _hex_bytes_text(hexpart: bytes, dec: FontDecoder | None = None) -> str:
    """Byte-path twin of _hex_text: strip whitespace, pad an odd digit count
    with a trailing 0 (PDF §7.3.4.3), then decode through the active font
    decoder if any (Differences table or CID CMap), else latin-1 — matching
    literal strings — or UTF-16BE when a FEFF BOM leads (decoded with
    'replace' so a truncated surrogate cannot raise; Java's String(bytes,
    charset) does the same U+FFFD substitution on the expression path)."""
    h = b"".join(hexpart.split())
    if len(h) % 2:
        h += b"0"
    raw = bytes.fromhex(h.decode("ascii"))
    if dec:
        return _decode_codes(raw, dec)
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    return raw.decode("latin-1")


def _op_text_bytes(op: bytes, dec: FontDecoder | None = None) -> str:
    """One show operator (bytes) -> shown text; exact mirror of the
    expression path's _op_text/_elem_text, plus the active font decoder
    (``dec``: simple-font Differences table or Type0 CID CMap). Never
    raises on a _SHOW_OP match: every alternative's decode path is total
    (latin-1/replace decoding, odd-hex padding)."""
    if op.startswith(b"["):
        parts: list[str] = []
        for e in _TJ_ELEM_B.finditer(op):
            tok = e.group(0)
            if tok.startswith(b"("):
                parts.append(_decode_codes(_unescape_raw(_STR_B.match(tok).group(1)), dec))
            elif tok.startswith(b"<"):
                parts.append(_hex_bytes_text(tok[1:-1], dec))
            elif float(tok.decode("ascii")) <= TJ_SPACE_KERN:
                parts.append(" ")
        return "".join(parts)
    if op.startswith(b"<"):
        return _hex_bytes_text(op[: op.index(b">")][1:], dec)
    return _decode_codes(_unescape_raw(_STR_B.match(op).group(1)), dec)


#: one alternation walking a text block in order: font selections (Tf),
#: text-positioning operators (Td/TD/Tm/TL/T*), and show operators — the Tf
#: operand is how per-font encodings (Differences tables, CID CMaps) switch
#: on and off mid-stream; the positioning operators feed the optional
#: position-sorted reading order (order="position")
_NUM = rb"-?[\d.]+"
_TF_SHOW_B = _re.compile(
    rb"/(?P<font>[A-Za-z0-9_.+-]+)\s+" + _NUM + rb"\s+Tf"
    rb"|(?P<tdx>" + _NUM + rb")\s+(?P<tdy>" + _NUM + rb")\s+(?P<tdop>TD|Td)"
    rb"|(?P<tm>(?:" + _NUM + rb"\s+){6})Tm"
    rb"|(?P<tl>" + _NUM + rb")\s+TL"
    rb"|(?P<tstar>T\*)"
    rb"|(?P<show>" + _SHOW_OP.encode("ascii").replace(b"(?s)", b"", 1) + rb")",
    _re.S,
)


#: x-gap (text-space units) that separates column bands — half an inch of
#:   gutter at 72 dpi; narrower gaps are indentation, not columns
COLUMN_GUTTER = 90.0


def _position_sort(runs: list[tuple[float, float, str]]) -> list[str]:
    """Order text runs for READING, not drawing: cluster line-start x
    values into column bands (gap > COLUMN_GUTTER), then read each band
    left-to-right, top-down (descending y — PDF y grows upward). One band
    degenerates to plain top-down/left-right ordering. This is the classic
    multi-column recovery (pdftotext's reading-order mode): a two-column
    paper drawn in interleaved order comes back column by column."""
    if not runs:
        return []
    xs = sorted({x for x, _y, _t in runs})
    bands: list[float] = [xs[0]]
    for x in xs[1:]:
        if x - bands[-1] > COLUMN_GUTTER:
            bands.append(x)

    def band_of(x: float) -> int:
        b = 0
        for i, start in enumerate(bands):
            if x >= start - COLUMN_GUTTER / 2:
                b = i
        return b

    keyed = [(band_of(x), -y, x, i, t) for i, (x, y, t) in enumerate(runs)]
    return [t for *_k, t in sorted(keyed)]


def extract_pdf_bytes(raw: bytes, *, order: str = "stream") -> str:
    """Full byte-level PDF text extraction over the real-world container:

    1. structural stream scan (_find_streams: balanced dicts, /Length-sliced
       bodies), inflating /FlateDecode (+ /DecodeParms predictors) — a
       DECODE step like drf.decode, so it lives on the Python side;
    2. /Type /ObjStm object streams are expanded so fonts/pages packed
       inside them (the dominant post-2005 layout) become visible to
       object-level parsing; /Type /XRef and /Metadata streams never reach
       text extraction;
    3. the object map is the linear obj..endobj scan UNION ObjStm members
       UNION objects recovered through the cross-reference chain (classic
       xref tables AND xref streams, /Prev-linked) — xref recovery finds
       objects whose endobj markers are damaged, and xref damage never
       blocks the linear path (each layer degrades independently);
    4. show operators (Tj literal/hex, TJ kerned arrays) parse exactly like
       the relational expression path, with a Tf state machine so simple
       fonts decode through /Encoding /Differences tables (inline or
       indirect) and Type0 composite fonts decode 2-byte CIDs through
       their /ToUnicode CMap (bfchar + bfrange, both dst forms). The text
       font is graphics state, so the active font persists across BT
       blocks and stream boundaries.

    ``order``: "stream" (default) emits runs in draw order — the behavior
    every oracle pins; "position" tracks the text-positioning operators
    (Td/TD/Tm/TL/T*) and re-orders runs for READING via column-band
    clustering (_position_sort) — multi-column PDFs drawn in interleaved
    order come back column by column."""
    streams = _find_streams(raw)
    objstm_members: dict[int, bytes] = {}
    stream_data: dict[int, bytes] = {}
    text_streams: list[tuple[int | None, bytes]] = []
    for objnum, head, body in streams:
        data = _maybe_inflate(head, body)
        if data is None:
            continue  # corrupt stream: skip, never throw (error-as-value)
        if b"/ObjStm" in head:
            try:
                objstm_members.update(_parse_objstm(head, data))
            except Exception:
                pass  # malformed pair table: the expansion is best-effort
        elif b"/XRef" in head or b"/Metadata" in head:
            continue  # structural/metadata streams are never page content
        else:
            if objnum is not None:
                stream_data[objnum] = data
            text_streams.append((objnum, data))
    objects = {int(m.group(1)): m.group(2) for m in _OBJ_B.finditer(raw)}
    objects.update(objstm_members)
    try:
        for num, ent in _xref_entries(raw).items():
            if num not in objects and ent[0] == "n":
                body2 = _object_at(raw, ent[1])
                if body2 is not None:
                    objects[num] = body2
    except Exception:
        pass  # a damaged xref chain must never block the linear path
    fonts = _parse_fonts(objects, stream_data)
    # ToUnicode CMap streams are font metadata, not page content
    skip = {
        int(m.group(1))
        for body in objects.values()
        for m in _TOUNI_REF_B.finditer(body)
    }
    positional = order == "position"
    dec: FontDecoder | None = None
    runs: list[str] = []
    pos_runs: list[tuple[float, float, str]] = []
    # text-positioning state (PDF 32000-1 §9.4.2): line start (x, y) and
    # leading; BT resets the matrix, TL/leading persists (text state)
    x = y = 0.0
    leading = 0.0
    for objnum, data in text_streams:
        if objnum in skip:
            continue
        for block in _BT_ET_B.finditer(data):
            if fonts or positional:
                x = y = 0.0  # BT: text matrix reset to identity
                for t in _TF_SHOW_B.finditer(block.group(1)):
                    if t.group("font") is not None:
                        dec = fonts.get(t.group("font"))
                    elif t.group("show") is not None:
                        text = _op_text_bytes(t.group("show"), dec)
                        runs.append(text)
                        pos_runs.append((x, y, text))
                    elif not positional:
                        continue  # stream order: positioning is a no-op
                    elif t.group("tdop") is not None:
                        x += float(t.group("tdx"))
                        y += float(t.group("tdy"))
                        if t.group("tdop") == b"TD":
                            leading = -float(t.group("tdy"))
                    elif t.group("tm") is not None:
                        nums = [float(v) for v in t.group("tm").split()]
                        x, y = nums[4], nums[5]  # e, f (translation)
                    elif t.group("tl") is not None:
                        leading = float(t.group("tl"))
                    elif t.group("tstar") is not None:
                        y -= leading
            else:  # stream order, no encoded fonts: skip the state machine
                for op in _SHOW_OP_B.finditer(block.group(1)):
                    runs.append(_op_text_bytes(op.group(0)))
    if positional:
        return "\n".join(_position_sort(pos_runs))
    return "\n".join(runs)
