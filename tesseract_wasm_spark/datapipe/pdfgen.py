"""Deterministic PDF generators, the inverses of pdftext.py's decoders. They
run inside Spark tasks (the pdf_text_objstm/pdf_text_columns queries, the
mixed fixtures). pdftext imports this module as it loads, so the two
generators import its glyph list (_AGL) lazily."""

from __future__ import annotations

import base64
import zlib


def make_simple_pdf(lines: list[str], *, compress: bool = False,
                    operators: str = "tj",
                    differences: dict[int, str] | None = None) -> bytes:
    """A minimal valid single-page PDF — the deterministic fixture generator.

    ``compress=False``: uncompressed content stream, pure ASCII, so the
    whole-file binary->string cast path (pdf_text_expr) applies.
    ``compress=True``: the content stream is FlateDecode (zlib) compressed —
    the real-world shape — which requires the byte-level decode path
    (extract_pdf_bytes, the pdf branch of pipeline.extract_any).
    ``operators="mixed"``: cycle the three show-operator forms across lines —
    literal ``Tj``, kerned-array ``TJ`` (word gaps as -240 kerns, an
    intra-word -120 nudge that must NOT become a space), and hex ``Tj`` —
    so extraction must handle all of them to round-trip.
    ``differences``: {code -> AGL glyph name} — the /F1 font gains an
    /Encoding /Differences array and every line character covered by the
    map is ENCODED as its remapped code (octal-escaped in literals, raw in
    hex), so extraction round-trips only by resolving the glyph names
    (pdftext._parse_fonts); uncovered characters must be ASCII."""
    from tesseract_wasm_spark.datapipe.pdftext import _AGL  # noqa: PLC0415

    rev = {
        _AGL[name]: code
        for code, name in (differences or {}).items() if name in _AGL
    }

    def code_line(ln: str) -> str:
        # latin-1 'coded' form: each remapped char becomes chr(its code)
        return "".join(chr(rev[c]) if c in rev else c for c in ln)

    def esc(s: str) -> str:
        s = s.replace("\\", "\\\\").replace("(", r"\(").replace(")", r"\)")
        return "".join(c if ord(c) < 128 else f"\\{ord(c):03o}" for c in s)

    def show(i: int, ln: str) -> str:
        ln = code_line(ln)
        if operators != "mixed" or i % 3 == 0:
            return f"({esc(ln)}) Tj 0 -14 Td"
        if i % 3 == 1:
            words = ln.split(" ")
            first = words[0]
            elems = (
                [f"({esc(first[:2])}) -120 ({esc(first[2:])})"]
                if len(first) > 2 else [f"({esc(first)})"]
            )
            elems += [f"-240 ({esc(w)})" for w in words[1:]]
            return f"[{' '.join(elems)}] TJ 0 -14 Td"
        enc = "latin-1" if differences else "utf-8"
        return f"<{ln.encode(enc).hex().upper()}> Tj 0 -14 Td"

    shows = "\n".join(show(i, ln) for i, ln in enumerate(lines))
    content_b = f"BT /F1 12 Tf 72 720 Td\n{shows}\nET".encode("ascii")
    if compress:
        content_b = zlib.compress(content_b, level=6)
        stream_dict = f"<< /Length {len(content_b)} /Filter /FlateDecode >>"
    else:
        stream_dict = f"<< /Length {len(content_b)} >>"
    if differences:
        diff_arr = " ".join(f"{c} /{n}" for c, n in sorted(differences.items()))
        font_obj = (
            f"<< /Type /Font /Subtype /Type1 /BaseFont /Custom /Encoding "
            f"<< /Type /Encoding /Differences [ {diff_arr} ] >> >>"
        ).encode("ascii")
    else:
        font_obj = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        stream_dict.encode("ascii") + b"\nstream\n" + content_b + b"\nendstream",
        font_obj,
    ]
    out: list[bytes] = [b"%PDF-1.4"]
    offsets = []
    pos = len(out[0]) + 1
    for i, body in enumerate(objs, start=1):
        obj = f"{i} 0 obj\n".encode("ascii") + body + b"\nendobj"
        offsets.append(pos)
        out.append(obj)
        pos += len(obj) + 1
    xref_pos = pos
    xref = ["xref", f"0 {len(objs) + 1}", "0000000000 65535 f "]
    xref += [f"{off:010d} 00000 n " for off in offsets]
    out.append("\n".join(xref).encode("ascii"))
    out.append(f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>".encode("ascii"))
    out.append(f"startxref\n{xref_pos}\n%%EOF".encode("ascii"))
    return b"\n".join(out)


def _cid_encoding(lines: list[str]) -> tuple[dict[str, int], str]:
    """Deterministic CID assignment + ToUnicode CMap source for a document:
    every distinct character gets a 2-byte code from 0x0020 up (sorted, so
    runs of consecutive codepoints compress into bfrange entries exactly
    like real font subsetters emit). The CMap mixes all three mapping
    forms the spec allows — bfchar singletons, incrementing bfrange, and
    one explicit-array bfrange — so extraction must parse each."""
    chars = sorted(set("".join(lines)))
    codes = {c: 0x20 + i for i, c in enumerate(chars)}
    runs: list[list[str]] = []
    for c in chars:
        if runs and ord(runs[-1][-1]) + 1 == ord(c):
            runs[-1].append(c)
        else:
            runs.append([c])
    bfchars: list[tuple[int, str]] = []
    bfranges: list[tuple[int, int, str]] = []
    arr_ranges: list[tuple[int, str]] = []
    for run in runs:
        if len(run) == 1:
            bfchars.append((codes[run[0]], run[0]))
        else:
            bfranges.append((codes[run[0]], codes[run[-1]], run[0]))
    if len(bfchars) >= 2:  # rewrite one singleton as the dst-ARRAY form
        code, ch = bfchars.pop()
        arr_ranges.append((code, ch))

    def u16(s: str) -> str:
        return s.encode("utf-16-be").hex().upper()

    parts = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def",
        "/CMapName /Adobe-Identity-UCS def",
        "/CMapType 2 def",
        "1 begincodespacerange",
        "<0000> <FFFF>",
        "endcodespacerange",
    ]
    if bfchars:
        parts.append(f"{len(bfchars)} beginbfchar")
        parts += [f"<{c:04X}> <{u16(ch)}>" for c, ch in bfchars]
        parts.append("endbfchar")
    if bfranges or arr_ranges:
        parts.append(f"{len(bfranges) + len(arr_ranges)} beginbfrange")
        parts += [f"<{lo:04X}> <{hi:04X}> <{u16(ch)}>" for lo, hi, ch in bfranges]
        parts += [f"<{c:04X}> <{c:04X}> [<{u16(ch)}>]" for c, ch in arr_ranges]
        parts.append("endbfrange")
    parts += ["endcmap", "CMapName currentdict /CMap defineresource pop",
              "end", "end"]
    return codes, "\n".join(parts)


def _esc_bytes(bs: bytes) -> bytes:
    """Raw show-string bytes -> PDF literal-string body (escape specials,
    octal-escape non-printables) — the generator-side inverse of
    pdftext._unescape_raw."""
    out = bytearray()
    for b in bs:
        if b in (0x5C, 0x28, 0x29):
            out += b"\\" + bytes([b])
        elif 32 <= b < 127:
            out.append(b)
        else:
            out += f"\\{b:03o}".encode("ascii")
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """PDF-variant LZW encoder (EarlyChange=1) — the generator-side inverse
    of pdftext._lzw_decode, for /LZWDecode fixtures."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    acc = nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(256)
    w = b""
    for i in range(len(data)):
        c = data[i : i + 1]
        if w + c in table:
            w += c
        else:
            emit(table[w])
            table[w + c] = next_code
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
            w = c
    if w:
        emit(table[w])
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _rl_encode(data: bytes) -> bytes:
    """RunLengthDecode fixture encoder: literal chunks of <= 128 bytes plus
    the 128 EOD (a valid, if uncompressive, encoding)."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i : i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    out.append(128)
    return bytes(out)


def _encode_filters(content: bytes, filters: tuple[str, ...]) -> bytes:
    """Apply the /Filter cascade's ENCODERS innermost-last (decode order is
    first-to-last, so encoding composes in reverse)."""
    enc = {
        "FlateDecode": lambda d: zlib.compress(d, level=6),
        "LZWDecode": _lzw_encode,
        "ASCII85Decode": lambda d: base64.a85encode(d) + b"~>",
        "ASCIIHexDecode": lambda d: d.hex().upper().encode("ascii") + b">",
        "RunLengthDecode": _rl_encode,
    }
    for name in reversed(filters):
        content = enc[name](content)
    return content


def make_modern_pdf(
    lines: list[str],
    *,
    cid: bool = True,
    objstm: bool = True,
    xref_stream: bool = True,
    predictor: bool = True,
    compress: bool = True,
    differences: dict[int, str] | None = None,
    content_filters: tuple[str, ...] | None = None,
    columns: int = 1,
) -> bytes:
    """The post-2005 PDF container shape, deterministically: FlateDecode
    content, a /Type /XRef cross-reference STREAM (optionally behind the
    PNG Up predictor real writers use), non-stream objects (catalog, pages,
    page, fonts, encoding dicts) packed into a /Type /ObjStm object
    stream, and — with ``cid=True`` — a subsetted /Subtype /Type0 font
    over /Identity-H whose show strings carry 2-byte CIDs decodable only
    through its /ToUnicode CMap (bfchar + both bfrange dst forms; literal
    AND hex string operators alternate per line). ``differences`` instead
    builds a simple Type1 font whose /Encoding is an INDIRECT object (the
    layout ObjStm-packed files use). ``objstm`` implies ``xref_stream``
    (classic tables cannot reference ObjStm members — §7.5.7).
    ``content_filters`` overrides the content stream's /Filter with an
    explicit cascade (e.g. ("ASCII85Decode", "FlateDecode") — transfer
    armor outside compression, decode order first-to-last).
    ``columns=2`` lays the lines out as TWO columns positioned via Tm and
    DRAWN IN INTERLEAVED ORDER (row by row across columns) — the
    real-world multi-column shape where stream order != reading order;
    extract_pdf_bytes(order="position") must recover the original line
    order."""
    if objstm:
        xref_stream = True
    if cid:
        codes, cmap_src = _cid_encoding(lines)

        def show_op(i: int, ln: str) -> str:
            cbytes = b"".join(codes[c].to_bytes(2, "big") for c in ln)
            if i % 3 == 1:  # literal-string CIDs
                return f"({_esc_bytes(cbytes).decode('latin-1')}) Tj"
            return f"<{cbytes.hex().upper()}> Tj"
    else:
        from tesseract_wasm_spark.datapipe.pdftext import _AGL  # noqa: PLC0415

        rev = {
            _AGL[name]: code
            for code, name in (differences or {}).items() if name in _AGL
        }

        def show_op(i: int, ln: str) -> str:
            coded = "".join(chr(rev[c]) if c in rev else c for c in ln)
            body = _esc_bytes(coded.encode("latin-1")).decode("latin-1")
            return f"({body}) Tj"

    if columns == 2:
        # interleaved draw order across two Tm-positioned columns: the
        # stream shows row 0 of col 1, row 0 of col 2, row 1 of col 1, ...
        half = (len(lines) + 1) // 2
        cols = [(72, list(enumerate(lines[:half]))),
                (306, list(enumerate(lines[half:], start=half)))]
        ops = []
        for row in range(half):
            for cx, col in cols:
                if row < len(col):
                    i, ln = col[row]
                    ops.append(f"1 0 0 1 {cx} {720 - 14 * row} Tm "
                               + show_op(i, ln))
        shows = "\n".join(ops)
        content = f"BT /F1 12 Tf\n{shows}\nET".encode("latin-1")
    else:
        shows = "\n".join(f"{show_op(i, ln)} 0 -14 Td"
                          for i, ln in enumerate(lines))
        content = f"BT /F1 12 Tf 72 720 Td\n{shows}\nET".encode("latin-1")
    if content_filters:  # explicit /Filter cascade (may include armor)
        content = _encode_filters(content, content_filters)
        if len(content_filters) == 1:
            fspec = f"/{content_filters[0]}"
        else:
            fspec = "[ " + " ".join(f"/{n}" for n in content_filters) + " ]"
        content_dict = f"<< /Length {len(content)} /Filter {fspec} >>"
    elif compress:
        content = zlib.compress(content, level=6)
        content_dict = f"<< /Length {len(content)} /Filter /FlateDecode >>"
    else:
        content_dict = f"<< /Length {len(content)} >>"

    # object bodies (numbers fixed: 1 catalog, 2 pages, 3 page, 4 content,
    # 5 font, 6 ToUnicode CMap stream, 7 descendant font / encoding dict,
    # 8 ObjStm, 9 XRef stream)
    bodies: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
    }
    streams: dict[int, tuple[str, bytes]] = {4: (content_dict, content)}
    if cid:
        bodies[5] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Subset-Custom "
            b"/Encoding /Identity-H /DescendantFonts [7 0 R] "
            b"/ToUnicode 6 0 R >>"
        )
        bodies[7] = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Subset-Custom "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> /CIDToGIDMap /Identity >>"
        )
        cmap_b = cmap_src.encode("ascii")
        if compress:
            cmap_b = zlib.compress(cmap_b, level=6)
            streams[6] = (
                f"<< /Length {len(cmap_b)} /Filter /FlateDecode >>", cmap_b
            )
        else:
            streams[6] = (f"<< /Length {len(cmap_b)} >>", cmap_b)
    elif differences:
        diff_arr = " ".join(f"{c} /{n}" for c, n in sorted(differences.items()))
        bodies[5] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
                     b"/Encoding 7 0 R >>")  # INDIRECT encoding object
        bodies[7] = (f"<< /Type /Encoding /Differences [ {diff_arr} ] >>"
                     ).encode("ascii")
    else:
        bodies[5] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def emit(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode("ascii"))
        out.extend(body)
        out.extend(b"\nendobj\n")

    objstm_index: dict[int, int] = {}
    if objstm:
        members = sorted(bodies)
        parts, offs, pos = [], [], 0
        for n in members:
            offs.append((n, pos))
            parts.append(bodies[n])
            pos += len(bodies[n]) + 1
        payload = b" ".join(f"{n} {o}".encode("ascii") for n, o in offs)
        payload += b"\n"
        first = len(payload)
        payload += b"\n".join(parts) + b"\n"
        objstm_index = {n: i for i, n in enumerate(members)}
        zpayload = zlib.compress(payload, level=6)
        head = (f"<< /Type /ObjStm /N {len(members)} /First {first} "
                f"/Length {len(zpayload)} /Filter /FlateDecode >>")
        streams[8] = (head, zpayload)
    else:
        for n in sorted(bodies):
            emit(n, bodies[n])
    for n in sorted(streams):
        head, sbody = streams[n]
        emit(n, head.encode("ascii") + b"\nstream\n" + sbody + b"\nendstream")

    max_obj = 9 if xref_stream else max(offsets)
    if xref_stream:
        xref_num = 9
        rows = []
        for n in range(max_obj + 1):
            if n == 0:
                rows.append((0, 0, 65535))
            elif n in objstm_index:
                rows.append((2, 8, objstm_index[n]))
            elif n in offsets:
                rows.append((1, offsets[n], 0))
            elif n == xref_num:
                rows.append((1, len(out), 0))  # the xref stream itself
            else:
                rows.append((0, 0, 0))
        data = b"".join(
            bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
            for t, f2, f3 in rows
        )
        parms = ""
        if predictor:  # PNG Up filter, the shape real writers emit
            row_len = 7
            filtered = bytearray()
            prev = bytes(row_len)
            for r0 in range(0, len(data), row_len):
                row = data[r0 : r0 + row_len]
                filtered.append(2)
                filtered.extend((row[i] - prev[i]) & 0xFF for i in range(len(row)))
                prev = row
            data = bytes(filtered)
            parms = " /DecodeParms << /Predictor 12 /Columns 7 >>"
        zdata = zlib.compress(data, level=6)
        head = (f"<< /Type /XRef /Size {max_obj + 1} /W [1 4 2] "
                f"/Index [0 {max_obj + 1}] /Root 1 0 R "
                f"/Length {len(zdata)} /Filter /FlateDecode{parms} >>")
        startxref = len(out)
        emit(xref_num, head.encode("ascii") + b"\nstream\n" + zdata
             + b"\nendstream")
        out.extend(f"startxref\n{startxref}\n%%EOF".encode("ascii"))
    else:
        startxref = len(out)
        xref = ["xref", f"0 {max_obj + 1}", "0000000000 65535 f "]
        xref += [f"{offsets.get(n, 0):010d} 00000 {'n' if n in offsets else 'f'} "
                 for n in range(1, max_obj + 1)]
        out.extend("\n".join(xref).encode("ascii"))
        out.extend(f"\ntrailer\n<< /Size {max_obj + 1} /Root 1 0 R >>\n"
                   f"startxref\n{startxref}\n%%EOF".encode("ascii"))
    return bytes(out)
