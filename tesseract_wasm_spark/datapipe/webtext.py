"""HTML main-content extraction — boilerplate strip + DOM heuristics, the
web-page half of the north rule's extraction tier ("HTML boilerplate strip,
DOM heuristics"; the OCR engine is the image half — pipeline.extract_any
dispatches per payload).

Everything is built from JVM-side expressions (regexp_replace / split /
higher-order array functions — whole-stage codegen, no Python in the path),
and the SAME pipeline is expressible verbatim in DuckDB SQL (queries.py
SQL_HTML_MAIN_TEXT), so the driver gate checks it as a genuine dual
derivation. Patterns are RE2-safe (no backreferences, no lookaround) so the
two engines' regex dialects agree.

Heuristics (the classic tag-based + link-density recipe of Boilerpipe/Arc90,
in relational form):
  1. drop comments, <script>/<style>, the whole <head>;
  2. drop structural boilerplate containers: <nav>, <footer>, <aside>;
  3. split the remainder into text blocks at block-level tag boundaries;
  4. per block: strip inline tags, decode basic entities, collapse
     whitespace; compute the block's link density (anchor-text chars / text
     chars);
  5. keep non-empty blocks with link density <= 1/3; join with newlines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: tags whose entire element is boilerplate.
#: NOTE '<head\\b' does not match '<header' (\\b fails before 'e'), so both
#: can coexist. Cost note: each tag is NESTED_STRIP_PASSES regexp_replace
#: passes over the payload — linear in tag count x pass count, all inside
#: whole-stage codegen.
_CONTAINER_TAGS = (
    "script", "style", "head", "nav", "footer", "aside",
    "header", "form", "noscript", "iframe", "svg", "figure",
)

#: passes of the innermost-element strip below: same-tag nesting up to this
#: depth is fully removed (`<div>`-in-`<div>`-style boilerplate is one unit
#: in real pages); depth 3 covers the overwhelming real-world case, deeper
#: nests degrade to the old leave-the-tail behavior.
NESTED_STRIP_PASSES = 3


def container_pattern(tag: str) -> str:
    """INNERMOST-element match for one container tag — RE2-safe (DuckDB's
    regex engine has no lookaround), so 'content contains no same-tag
    open/close' is spelled as character-class tempering: content atoms are
    any non-'<' char, or '<' followed by an alternation that can't begin
    ``tag``/``/tag`` (prefix+negated-class chains; a full tag name followed
    by a word char is NOT the tag, preserving the head/header distinction).
    Iterating the replace peels one nesting level per pass, innermost-first
    — pass K resolves depth-K same-tag nesting exactly; single-level
    elements (including ones holding OTHER tags, e.g. links) match on the
    first pass, so non-nested behavior is unchanged vs the classic
    non-greedy form."""
    return rf"(?is){_container_alt(tag)}"


def _container_alt(tag: str) -> str:
    alts = [f"[^/{tag[0]}]", f"/[^{tag[0]}]"]
    for i in range(1, len(tag)):
        alts += [f"{tag[:i]}[^{tag[i]}]", f"/{tag[:i]}[^{tag[i]}]"]
    alts += [f"{tag}[A-Za-z0-9]", f"/{tag}[A-Za-z0-9]"]
    body = "|".join(alts)
    return rf"<{tag}\b[^>]*>(?:[^<]|<(?:{body}))*</{tag}>"


def containers_pattern() -> str:
    """ALL container tags fused into one alternation — one linear scan per
    strip pass instead of one per tag (12x fewer passes over the payload;
    at 100 TB the strip is payload-bandwidth-bound, so scan count is the
    cost). Leftmost-match semantics are identical to the per-tag loop on
    well-formed pages (each alternative excludes only its OWN tag from the
    content, so cross-tag containment matches wholesale either way)."""
    body = "|".join(_container_alt(t) for t in _CONTAINER_TAGS)
    return rf"(?is)(?:{body})"

#: block-level boundaries that delimit candidate text blocks
_BLOCK_SPLIT = (
    r"(?i)</?(?:p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|table|tr|td|section|"
    r"article|main|blockquote|pre|dd|dt|body|html)[^>]*>"
)

_ANCHOR_TEXT = r"(?is)<a\b[^>]*>(.*?)</a>"

#: entity decode order matters: named/numeric entities FIRST, &amp; LAST
#: (otherwise "&amp;lt;" would double-decode); the DuckDB twin uses the
#: identical order
_ENTITIES_PRE = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"))
_ENTITIES = _ENTITIES_PRE + (("&amp;", "&"),)

#: numeric character references, ASCII range: decimal ``&#NNN;`` decodes when
#: 32..126, hex ``&#xNN;`` when <= 0x7F (1-2 digits, first nibble 0-7) — the
#: range where Spark's char() and DuckDB's chr()/byte-decode agree exactly;
#: anything outside stays literal text. RE2-safe, shared with the SQL twin.
_NUM_ENT = r"&#(x[0-7]?[0-9A-Fa-f]|[0-9]{1,5});"


def _num_ent_char(e: Column) -> Column:
    """One captured reference body ('x41' or '65') -> decoded char, or the
    original '&#..;' text when out of the supported range."""
    as_int = e.cast("int")  # safe: the decimal alternative is all digits
    return (
        F.when(
            F.substring(e, 1, 1) == "x",
            F.decode(F.unhex(F.lpad(F.substring(e, 2, 2), 2, "0")), "UTF-8"),
        )
        .when((as_int >= 32) & (as_int <= 126), F.char(as_int))
        .otherwise(F.concat(F.lit("&#"), e, F.lit(";")))
    )


def _decode_num_entities(txt: Column) -> Column:
    """Split-and-rebuild numeric-reference decode in pure expressions: parts
    around each reference + the decoded char for each, re-joined in order
    (split keeps trailing empties in both engines, so len(parts) ==
    len(refs) + 1 always)."""
    parts = F.split(txt, _NUM_ENT)
    ents = F.regexp_extract_all(txt, F.lit(_NUM_ENT), 1)
    rebuilt = F.zip_with(
        F.slice(parts, 1, F.size(ents)), ents,
        lambda p, e: F.concat(p, _num_ent_char(e)),
    )
    return F.concat(F.array_join(rebuilt, ""), F.element_at(parts, -1))

#: a block is navigation/noise when more than this fraction of its text is
#: anchor text
MAX_LINK_DENSITY = 1 / 3


def _block_text(seg: Column) -> Column:
    txt = F.regexp_replace(seg, "<[^>]*>", " ")
    for ent, ch in _ENTITIES_PRE:
        txt = F.replace(txt, F.lit(ent), F.lit(ch))
    txt = _decode_num_entities(txt)
    txt = F.replace(txt, F.lit("&amp;"), F.lit("&"))
    return F.trim(F.regexp_replace(txt, r"\s+", " "))


def _strip_containers(html: Column) -> Column:
    """Comments + whole-element boilerplate containers removed; the
    innermost-first pattern iterated NESTED_STRIP_PASSES times resolves
    same-tag nesting to depth 3 (see container_pattern)."""
    h = F.regexp_replace(html, r"(?s)<!--.*?-->", " ")
    fused = containers_pattern()
    for _ in range(NESTED_STRIP_PASSES):
        h = F.regexp_replace(h, fused, " ")
    return h


def _blocks(html: Column) -> Column:
    """The shared block pipeline: strip containers, split at block tags,
    compute per-block text + anchor-text length. Returns the unfiltered
    array<struct<txt,link_len>> both block-selection rules filter."""
    segs = F.split(_strip_containers(html), _BLOCK_SPLIT)
    return F.transform(
        segs,
        lambda s: F.struct(
            _block_text(s).alias("txt"),
            F.coalesce(
                F.length(
                    F.array_join(F.regexp_extract_all(s, F.lit(_ANCHOR_TEXT), 1), "")
                ),
                F.lit(0),
            ).alias("link_len"),
        ),
    )


def _kept_blocks(html: Column) -> Column:
    """The non-empty low-link blocks: the array<struct<txt,link_len>> every
    link-density consumer filters/joins."""
    return F.filter(
        _blocks(html),
        lambda b: (b["txt"] != "")
        & (b["link_len"] * 3 <= F.length(b["txt"])),
    )


def main_content_expr(html: Column) -> Column:
    """html string -> extracted main text (blocks joined with newlines)."""
    return F.array_join(F.transform(_kept_blocks(html), lambda b: b["txt"]), "\n")


#: a block whose density falls below this fraction of the page's best block
#: is boilerplate (share bars, related-posts stubs) — the Readability-style
#: relative cut, vs the absolute link-ratio threshold of main_content_expr
DENSITY_KEEP_FRAC = 0.25


def _density_of(b: Column) -> Column:
    """Readability-style block score: (non-link chars)^2 / total chars —
    rewards long runs of plain text, punishes link-dominated and tiny
    blocks quadratically. Plain multiplication (not pow) so the DuckDB
    twin's arithmetic is bit-identical."""
    nonlink = (F.length(b["txt"]) - b["link_len"]).cast("double")
    return nonlink * nonlink / F.greatest(F.length(b["txt"]), F.lit(1)).cast("double")


def density_main_text_expr(html: Column) -> Column:
    """Text-DENSITY main-content selection — the Readability-family
    alternative to the absolute link-ratio rule: every non-empty block is
    scored (non-link chars)^2/chars and blocks under DENSITY_KEEP_FRAC of
    the page's best block are dropped. Catches what the absolute rule
    cannot: short link-free boilerplate ("Share this post", related-posts
    stubs) that passes any link threshold but is tiny next to the article.
    Pure array expressions over the same shared block pipeline — still one
    scan, whole-stage codegen."""
    nonempty = F.filter(_blocks(html), lambda b: b["txt"] != "")
    mx = F.coalesce(
        F.array_max(F.transform(nonempty, _density_of)), F.lit(0.0)
    )
    kept = F.filter(nonempty, lambda b: _density_of(b) >= DENSITY_KEEP_FRAC * mx)
    return F.array_join(F.transform(kept, lambda b: b["txt"]), "\n")


def quality_filtered_main_text(docs: DataFrame, *, html_col: str = "html_text",
                               id_col: str = "url",
                               min_quality: float = 0.2) -> DataFrame:
    """Per-block quality composition — the LLM-training-pipeline filter that
    drops junk blocks (symbol soup, SEO keyword strings) BEFORE the page's
    main text is assembled: boilerplate strip -> link-density keep ->
    per-block quality composite >= min_quality -> join. Pure whole-stage
    codegen expressions end to end (zero Python), so at 100 TB it stays a
    single-pass map over the scan like main_content. The per-block composite
    is textstats.quality_cols's document score over the block's text."""
    from tesseract_wasm_spark.datapipe.textstats import quality_cols  # noqa: PLC0415

    good = F.filter(
        _kept_blocks(F.col(html_col)),
        lambda b: quality_cols(b["txt"])["quality"] >= F.lit(min_quality),
    )
    return docs.select(
        id_col,
        F.array_join(F.transform(good, lambda b: b["txt"]), "\n").alias("main_text"),
    )


def main_content(docs: DataFrame, *, html_col: str = "html_text",
                 id_col: str = "url") -> DataFrame:
    """(id, html string) -> (id, main_text)."""
    return docs.select(
        id_col, main_content_expr(F.col(html_col)).alias("main_text")
    )


def main_content_blocks(docs: DataFrame, *, html_col: str = "html_text",
                        id_col: str = "url") -> DataFrame:
    """Exploded per-block view of the extraction: (id, block_pos, block_text)
    for every kept block — the granularity for per-block analyses (language
    mix inside one page, per-block quality scoring)."""
    kept = _kept_blocks(F.col(html_col))
    return docs.select(
        id_col, F.posexplode(F.transform(kept, lambda b: b["txt"])).alias("block_pos", "block_text")
    )


def block_languages(docs: DataFrame, *, html_col: str = "html_text",
                    id_col: str = "url") -> DataFrame:
    """Per-block language ID over extracted main-content blocks — detects
    mixed-language pages that a whole-document classifier averages away.
    Pure composition: main_content_blocks × textstats.language_id's marker
    heuristic (all JVM expressions)."""
    from tesseract_wasm_spark.datapipe.textstats import language_id  # noqa: PLC0415

    blocks = main_content_blocks(docs, html_col=html_col, id_col=id_col)
    scored = language_id(
        blocks.select(
            F.col(id_col).alias("doc_id"), "block_pos",
            F.col("block_text").alias("text"), F.lit("?").alias("lang"),
        ),
        extra_cols=("block_pos",),
    )
    return scored.select(F.col("doc_id").alias(id_col), "block_pos", "pred_lang")


#: bytes of payload sniffed for a <meta charset> declaration — the WHATWG
#: prescan window; decoding more buys nothing (the declaration must appear
#: early to be honored by browsers too)
CHARSET_SNIFF_BYTES = 1024

_META_CHARSET = (
    r"(?i)<meta[^>]*charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-]+)"
)

#: charset label (lowercased, after alias folding) -> JVM decode charset.
#: Spark's decode() supports exactly six charsets; windows-1252 folds to
#: ISO-8859-1, and the 0x80-0x9F gap (typographic punctuation that
#: ISO-8859-1 maps to C1 controls) is repaired afterwards by a translate()
#: over _CP1252_C1_SRC/_CP1252_C1_DST — WHATWG treats the whole latin-1
#: label family as windows-1252, so the repair applies to every label in
#: this family (decode_html_expr). Unknown labels fall back to
#: UTF-8-with-replacement like browsers do.
_CHARSET_MAP = {
    "utf-8": "UTF-8", "utf8": "UTF-8",
    "iso-8859-1": "ISO-8859-1", "latin-1": "ISO-8859-1", "latin1": "ISO-8859-1",
    "windows-1252": "ISO-8859-1", "cp1252": "ISO-8859-1",
    # mislabeled "ascii" pages are latin-1 in practice; ISO-8859-1 is the
    # total superset decode (US-ASCII would replace every high byte)
    "us-ascii": "ISO-8859-1", "ascii": "ISO-8859-1",
    "utf-16": "UTF-16", "utf-16be": "UTF-16BE", "utf-16le": "UTF-16LE",
}


#: the 27 cp1252 positions in 0x80-0x9F that decode to printable characters
#: (5 positions are undefined and stay as-is): source = the C1 control
#: codepoints ISO-8859-1 yields, destination = the cp1252 characters.
#: Built from the codec itself so the table is correct by construction.
_CP1252_C1_SRC = "".join(
    chr(b) for b in range(0x80, 0xA0)
    if bytes([b]).decode("cp1252", "ignore")
)
_CP1252_C1_DST = bytes(
    b for b in range(0x80, 0xA0) if bytes([b]).decode("cp1252", "ignore")
).decode("cp1252")

#: labels whose decode goes through ISO-8859-1 and therefore needs the
#: C1 -> cp1252 punctuation repair (WHATWG: all of these ARE windows-1252)
_LATIN1_FAMILY = tuple(
    lab for lab, cs in _CHARSET_MAP.items() if cs == "ISO-8859-1"
)


def detect_charset_expr(payload: Column,
                        header_label: Column | None = None) -> Column:
    """binary payload -> lowercase charset label, in WHATWG precedence
    order: BOM first, then the TRANSPORT channel (``header_label`` — the
    HTTP Content-Type charset parameter, which a WARC source surfaces as
    its ``http_charset`` column), then a <meta charset=...> / http-equiv
    declaration sniffed from the first CHARSET_SNIFF_BYTES (decoded
    latin-1 — total, never fails), else the utf-8 default. Pure JVM
    expressions."""
    head = F.decode(F.substring(payload, 1, CHARSET_SNIFF_BYTES), "ISO-8859-1")
    meta = F.lower(F.regexp_extract(head, _META_CHARSET, 1))
    out = (
        F.when(F.substring(payload, 1, 3) == F.lit(b"\xef\xbb\xbf"), "utf-8")
        .when(F.substring(payload, 1, 2) == F.lit(b"\xfe\xff"), "utf-16be")
        .when(F.substring(payload, 1, 2) == F.lit(b"\xff\xfe"), "utf-16le")
    )
    if header_label is not None:
        hdr = F.lower(F.trim(header_label))
        out = out.when(hdr.isNotNull() & (hdr != ""), hdr)
    return out.when(meta != "", meta).otherwise("utf-8")


def decode_html_expr(payload: Column,
                     header_label: Column | None = None) -> Column:
    """Charset-aware payload decode: detected label -> the matching JVM
    decode (UTF-16 BOMs route through Java's BOM-consuming 'UTF-16'
    charset), leading U+FEFF stripped, unknown labels -> UTF-8 with
    replacement, and latin-1-family labels get the C1 -> cp1252
    punctuation repair (translate over _CP1252_C1_SRC) so smart quotes /
    dashes on windows-1252 pages decode to the real characters instead of
    control chars that mojibake scoring would flag. The whole chain is
    whole-stage-codegen CASE/decode/translate expressions — no Python, so
    it composes with extract_any's fused single-scan plan.

    SESSION-CONFIG CONTRACT: total decode (malformed bytes -> U+FFFD
    instead of MALFORMED_CHARACTER_CODING) requires
    ``spark.sql.legacy.codingErrorAction=true``, which session.get_spark
    sets. On a vanilla SparkSession one malformed payload would throw and
    kill the job — callers building their own session must set the conf
    (extract_any enforces it at plan-build time).

    ``header_label``: optional transport-channel charset label (the HTTP
    Content-Type parameter a WARC source surfaces as ``http_charset``) —
    ranked between BOM and <meta> per WHATWG; see detect_charset_expr."""
    label = detect_charset_expr(payload, header_label)
    decoded = F.decode(payload, "UTF-8")
    for lab, charset in _CHARSET_MAP.items():
        jvm = "UTF-16" if charset in ("UTF-16BE", "UTF-16LE") else charset
        col = F.decode(payload, jvm)
        if lab in _LATIN1_FAMILY:
            col = F.translate(col, _CP1252_C1_SRC, _CP1252_C1_DST)
        decoded = F.when(label == lab, col).otherwise(decoded)
    return F.regexp_replace(decoded, "^\\uFEFF", "")


def ensure_total_decode(df) -> None:
    """Enforce decode_html_expr's error-as-value contract on the session
    that will execute ``df``: set spark.sql.legacy.codingErrorAction=true
    (runtime-settable SQL conf) if the caller's session lacks it, so a
    malformed payload yields U+FFFD replacement rather than throwing
    MALFORMED_CHARACTER_CODING mid-job."""
    try:
        conf = df.sparkSession.conf
        if str(conf.get("spark.sql.legacy.codingErrorAction", "false")).lower() != "true":
            conf.set("spark.sql.legacy.codingErrorAction", "true")
    except Exception:
        pass  # read-only conf surface (e.g. Connect) — documented contract applies


#: the escape table of html_escape_expr and html_escape, applied in order:
#: & first, then < and >, then quotes as NUMERIC references (decimal + hex)
_ESCAPES = (
    ("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&#34;"), ("'", "&#x27;"),
)


def html_escape_expr(text: Column) -> Column:
    """Inverse of the entity decode (for building synthetic pages whose
    extraction round-trips exactly); the quotes' numeric references make
    the round-trip exercise the numeric-entity decode path."""
    for ch, ref in _ESCAPES:
        text = F.replace(text, F.lit(ch), F.lit(ref))
    return text


def html_escape(text: str) -> str:
    """Python twin of html_escape_expr, for pages built in Python."""
    for ch, ref in _ESCAPES:
        text = text.replace(ch, ref)
    return text
