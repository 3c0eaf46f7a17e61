"""Deterministic fixture corpus — the pages table.

Schema is fixed by the driver contract (BASELINE.json input_hint):
``(url string, warc_ts timestamp, html binary, text string, lang string)``.
``html`` carries the DRF-encoded page image; ``text`` carries the ground-truth
string the page was rendered from (provenance — the byte-identity target).

Pages mirror the reference's fixture inventory (FIXTURES.md §2, reference
test/ocr-engine-test.js):
  - ``small-page``: analog of test/small-test-page.jpg with the same first
    line text pinned by the reference test (test/ocr-engine-test.js:199-202)
  - ``large-page``: analog of test/test-page.jpg (~3x area — skew driver)
  - ``empty-{n}``: all-white pages (quirk fixtures, ocr-engine-test.js:211-229)
  - ``rot-{90,180,270}``: metamorphic orientation fixtures
    (ocr-engine-test.js:340-352)
  - ``bad-buffer`` / ``zero-dim``: error-path fixtures (ocr-engine-test.js:63-78)
  - ``page-{i}``: seeded corpus pages with heavy-tailed sizes (the skew the
    north rule requires explicit handling for)

Everything is a pure function of (n_pages, seed): no wall clock, no I/O.
"""

from __future__ import annotations

import datetime as dt
import struct

import numpy as np
import pandas as pd

from tesseract_wasm_spark import drf
from tesseract_wasm_spark.datapipe.webtext import html_escape
from tesseract_wasm_spark.raster import empty_page, render_page, render_page_drf

BASE_TS = dt.datetime(2024, 1, 1, 0, 0, 0)

# word bank for seeded corpus text (ascii-only, matches the font)
_WORDS = (
    "the of and a to in is you that it he was for on are as with his they I at "
    "be this have from or one had by word but not what all were we when your can "
    "said there use an each which she do how their if will up other about out "
    "many then them these so some her would make like him into time has look two "
    "more write go see number no way could people my than first water been call "
    "who oil its now find long down day did get come made may part Image Optical "
    "Character Recognition Thresholding quick brown fox jumps lazy dog OCR Spark "
    "pipeline extraction binary page document baseline glyph"
).split()

SMALL_PAGE_LINES = [
    "Image Thresholding for Optical Character Recognition and",
    "Other Applications Requiring Character Image Extraction",
    "Two new algorithms are described with test results for a",
    "range of document types and a discussion of tradeoffs in",
    "speed and quality of the resulting binary page images so",
    "the first is a fast simple approach for general purposes",
    "and the second is a more aggressive approach directed at",
    "specialized high volume applications which may justify a",
    "larger setup cost and tuning effort for best performance",
    "second is a more aggressive approach toward applications",
]


DEU_PAGE_LINES = [
    [
        "Die Qualität der Zeichenerkennung hängt von der Schwelle ab",
        "Zwölf Boxkämpfer jagen Viktor quer über den großen Sylter",
        "Deich während die Vermessung der Grundlinien fortschreitet",
    ],
    [
        "Übermäßige Verzerrung führt zu schlechterer Erkennung",
        "die Prüfung erfolgt zeilenweise mit äußerster Sorgfalt",
    ],
]


#: HTML fixture articles: (paragraph blocks, expected extracted text).
#: Payloads are real Common-Crawl-style HTML with boilerplate (head/script/
#: nav/aside/footer/comments); the engine's webtext extractor must recover
#: the block texts exactly (entities decoded, whitespace collapsed).
HTML_ARTICLES: list[list[str]] = [
    [
        "The spark engine reads mixed crawl pages at 100 TB scale.",
        "A paragraph mentioning costs & limits: keep <thresholds> sane.",
        "read the full documentation carefully before deploying anything to the production cluster",
    ],
    [
        "Single block article about deterministic extraction.",
        "Closing remarks with trailing thoughts on reading order.",
        "It's a \"quoted\" remark, isn't it.",  # numeric-entity round-trip
    ],
]


def article_html(paras: list[str]) -> bytes:
    """Wrap article paragraphs in boilerplate HTML (the webtext fixtures).
    Quotes become NUMERIC character references (webtext.html_escape), so
    fixture extraction exercises the &#NNN;/&#xNN; decode."""
    body = []
    for i, p in enumerate(paras):
        if "full documentation" in p:
            # keep one genuine inline anchor (low link density -> block kept)
            p_html = html_escape(p).replace(
                "full documentation", '<a href="/docs">full documentation</a>'
            )
        else:
            p_html = html_escape(p)
        body.append(f"<p>{p_html}</p>" if i % 2 == 0 else f"<div>{p_html}</div>")
    html = (
        "<html><head><title>article</title><script>var a = 1;</script>"
        "<style>p { margin: 0 }</style></head><body>"
        '<nav><a href="/">Home</a> <a href="/all">All posts</a></nav>'
        "<!-- rendered by fixture generator -->"
        f"<article>{''.join(body)}</article>"
        '<aside><a href="/ads">sponsored</a></aside>'
        "<footer>&amp;copy; 2024 example corp <a href='/impressum'>impressum</a></footer>"
        "</body></html>"
    )
    return html.encode("utf-8")


PDF_PAGE_LINES: list[list[str]] = [
    ["Quarterly report (draft)", "revenue up 12% vs Q1", "see appendix \\ tables"],
    ["single page memo", "action items follow"],
]

TWO_COL_LINES = [
    [
        "the quick brown fox",
        "jumps over the lazy",
        "dog near the river",
        "bank this morning",
        "before first light",
    ],
    [
        "image extraction on",
        "a large spark fleet",
        "needs careful block",
        "reading order",
    ],
]


def _seeded_lines(rng: np.random.Generator, n_lines: int, max_cols: int = 60) -> list[str]:
    lines = []
    for _ in range(n_lines):
        words: list[str] = []
        cols = 0
        while True:
            w = _WORDS[int(rng.integers(0, len(_WORDS)))]
            if cols + len(w) + (1 if words else 0) > max_cols:
                break
            cols += len(w) + (1 if words else 0)
            words.append(w)
        lines.append(" ".join(words) if words else "x")
    return lines


def expected_text(lines: list[str]) -> str:
    """getText contract: each line carries a trailing newline
    (reference: test/ocr-engine-test.js:199-206, src/lib.cpp:211-214)."""
    return "".join(ln + "\n" for ln in lines)


def fixture_rows(n_corpus_pages: int = 16, seed: int = 42) -> list[dict]:
    rng = np.random.default_rng(seed)
    rows: list[dict] = []

    def add(name: str, payload: bytes, text: str, minute: int, lang: str = "eng") -> None:
        rows.append(
            {
                "url": f"https://fixtures.test/page/{name}",
                "warc_ts": BASE_TS + dt.timedelta(minutes=minute),
                "html": payload,
                "text": text,
                "lang": lang,
            }
        )

    add("small-page", render_page_drf(SMALL_PAGE_LINES), expected_text(SMALL_PAGE_LINES), 0)
    large_lines = SMALL_PAGE_LINES * 3
    add("large-page", render_page_drf(large_lines), expected_text(large_lines), 1)
    for i, (w, h) in enumerate([(1, 1), (100, 100), (200, 200)]):
        add(f"empty-{w}x{h}", drf.encode(empty_page(w, h)), "", 2 + i)
    for rot in (90, 180, 270):
        add(f"rot-{rot}", render_page_drf(SMALL_PAGE_LINES, rot=rot), "", 5 + rot // 90)
    add("bad-buffer", drf.encode_raw_invalid(100, 100, b"0123456789"), "", 9)
    add("zero-dim", drf.encode_raw_invalid(0, 100, b""), "", 10)
    # skewed scans (~1-3 degrees) — the deskew-application fixtures (engine
    # must straighten before segmentation, reference patches/tesseract.diff:
    # 118-119); ground truth text identical to the upright render
    for j, k in enumerate((17, -33, 52)):
        name = f"skew-{'p' if k > 0 else 'm'}{abs(k)}"
        add(name, render_page_drf(SMALL_PAGE_LINES, skew_per_mille=k),
            expected_text(SMALL_PAGE_LINES), 100 + j)
    # German pages: the lang-keyed model dispatch fixtures (S4 — the Spark
    # pipeline selects the glyph model per row's lang column; umlauts/eszett
    # only exist in the "deu" charset)
    for j, lines in enumerate(DEU_PAGE_LINES):
        add(f"deu-{j}", render_page_drf(lines, lang="deu"),
            expected_text(lines), 110 + j, lang="deu")
    # two-column page: the FindBlocks fixture (reference emits real
    # carea/par structure, patches/tesseract.diff:107-151); reading order is
    # left column top-to-bottom, then right column
    from tesseract_wasm_spark.raster import render_columns_drf  # noqa: PLC0415

    add("two-col", render_columns_drf(TWO_COL_LINES),
        expected_text(TWO_COL_LINES[0] + TWO_COL_LINES[1]), 120)
    # HTML payloads: the web half of the extraction tier — pipeline.extract_any
    # dispatches them to the webtext boilerplate-strip path; ground truth =
    # the article blocks joined with newlines (no trailing newline). Through
    # the OCR-only surfaces these are honest error-as-value rows (the decoder
    # rejects non-DRF payloads), mirroring a mixed real-world crawl.
    for j, paras in enumerate(HTML_ARTICLES):
        add(f"html-{j}", article_html(paras), "\n".join(paras), 130 + j)
    # PDF payloads: minimal valid uncompressed-stream PDFs (the third payload
    # kind extract_any dispatches; extraction = Tj runs in stream order)
    from tesseract_wasm_spark.datapipe.pdfgen import make_simple_pdf  # noqa: PLC0415

    for j, lines in enumerate(PDF_PAGE_LINES):
        add(f"pdf-{j}", make_simple_pdf(lines), "\n".join(lines), 140 + j)
    # FlateDecode-compressed content streams — the dominant real-world PDF
    # shape; extraction must inflate, not silently return '' (byte-level path)
    for j, lines in enumerate(PDF_PAGE_LINES):
        add(f"pdfz-{j}", make_simple_pdf(lines, compress=True), "\n".join(lines), 150 + j)
    # mixed show operators (kerned-array TJ + hex Tj + literal Tj) — the
    # operator mix real-world PDFs actually use
    add("pdfm-0", make_simple_pdf(PDF_PAGE_LINES[0], operators="mixed"),
        "\n".join(PDF_PAGE_LINES[0]), 152)
    # recognized-but-undecodable image containers (no codecs in this
    # environment): extract_any must emit explicit 'decoder not available'
    # error rows, never silent empty-html rows
    add("img-png", b"\x89PNG\r\n\x1a\n" + bytes(64), "", 155)
    add("img-jpeg", b"\xff\xd8\xff\xe0" + bytes(64), "", 156)

    for i in range(n_corpus_pages):
        # heavy-tailed page sizes: ~1/8 of pages are 5-10x larger (the skew
        # the north rule requires explicit handling for)
        big = rng.random() < 0.125
        n_lines = int(rng.integers(40, 90)) if big else int(rng.integers(4, 14))
        lines = _seeded_lines(rng, n_lines)
        add(f"page-{i:05d}", render_page_drf(lines), expected_text(lines), 11 + i)
    return rows


def degraded_rows(n_corpus_pages: int = 20, seed: int = 77) -> list[dict]:
    """Defocused-scan corpus: every payload is a 3x3 box-blurred render (the
    deterministic analog of the reference's real-photo fixtures' optical
    blur), ground truth = the clean text. The degraded-scan recovery tier
    (engine/recognize.py) must re-extract every page byte-identically.

    Includes targeted shapes next to the seeded pages: k/x-final words whose
    blur bridges the inter-word gap (merged-word splitting), standalone 'I'
    (the E/I degraded-bank collision the unigram prior breaks), and a
    double-space line (gap-width survival through recovery)."""
    from tesseract_wasm_spark.raster import degrade_page_drf  # noqa: PLC0415

    rng = np.random.default_rng(seed)
    rows: list[dict] = []

    def add(name: str, lines: list[str], minute: int) -> None:
        rows.append(
            {
                "url": f"https://fixtures.test/degraded/{name}",
                "warc_ts": BASE_TS + dt.timedelta(minutes=minute),
                "html": degrade_page_drf(render_page_drf(lines)),
                "text": expected_text(lines),
                "lang": "eng",
            }
        )

    add("merge-kx", ["look go here", "Spark at dawn", "fox on the run"], 0)
    add("pronoun-I", ["I am here", "so I went", "I I I"], 1)
    add("gaps", ["up down", "left right middle"], 2)
    for i in range(n_corpus_pages):
        lines = _seeded_lines(rng, int(rng.integers(3, 12)))
        add(f"page-{i:04d}", lines, 10 + i)
    return rows


def degraded_df(spark, n_corpus_pages: int = 20, seed: int = 77):
    """Degraded pages table as a Spark DataFrame (deterministic)."""
    return spark.createDataFrame(
        pd.DataFrame(degraded_rows(n_corpus_pages, seed)), schema=PAGES_DDL
    )


def fixtures_pandas(n_corpus_pages: int = 16, seed: int = 42) -> pd.DataFrame:
    return pd.DataFrame(fixture_rows(n_corpus_pages, seed))


PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def fixtures_df(spark, n_corpus_pages: int = 16, seed: int = 42):
    """Pages table as a Spark DataFrame (deterministic)."""
    return spark.createDataFrame(fixtures_pandas(n_corpus_pages, seed), schema=PAGES_DDL)


def _spec_pages(spark, n_pages: int, seed: int, partitions: int | None,
                host: str, page):
    """The volume corpora's scaffold: the page *specs* (page_id, seed) are
    tiny and parallelized, and each page's (payload, text) comes from
    ``page(page_id, rng)`` on the executors, so building a large corpus
    doesn't bottleneck the driver. ``rng`` is seeded per (seed, page_id)."""
    specs = [(i, seed) for i in range(n_pages)]
    sdf = spark.createDataFrame(specs, "page_id int, seed int")
    if partitions:
        sdf = sdf.repartition(partitions)

    def gen(iterator):
        for pdf in iterator:
            out = []
            for pid, sd in zip(pdf["page_id"], pdf["seed"]):
                pid, sd = int(pid), int(sd)
                payload, truth = page(pid, np.random.default_rng((sd << 32) | pid))
                out.append(
                    {
                        "url": f"https://{host}/page/{pid:08d}",
                        "warc_ts": BASE_TS + dt.timedelta(seconds=pid),
                        "html": payload,
                        "text": truth,
                        "lang": "eng",
                    }
                )
            yield pd.DataFrame(out, columns=["url", "warc_ts", "html", "text", "lang"])

    return sdf.mapInPandas(gen, schema=PAGES_DDL)


def corpus_df(spark, n_pages: int, seed: int = 7, partitions: int | None = None):
    """Bench-scale corpus: only seeded pages (no error/rot fixtures) with
    heavy-tailed sizes, built distributed (_spec_pages)."""

    def page(pid, rng):
        big = rng.random() < 0.125
        n_lines = int(rng.integers(40, 90)) if big else int(rng.integers(4, 14))
        lines = _seeded_lines(rng, n_lines)
        return render_page_drf(lines), expected_text(lines)

    return _spec_pages(spark, n_pages, seed, partitions, "corpus.test", page)


def degraded_corpus_df(spark, n_pages: int, seed: int = 31, partitions: int | None = None):
    """Volume-scale DEGRADED corpus (defocused scans): corpus_df's shape with
    every payload box-blurred on the executors — the degraded-scan recovery
    soak input (every page must still extract byte-identically)."""
    from tesseract_wasm_spark.raster import degrade_page_drf  # noqa: PLC0415

    def page(pid, rng):
        lines = _seeded_lines(rng, int(rng.integers(3, 12)))
        return degrade_page_drf(render_page_drf(lines)), expected_text(lines)

    return _spec_pages(spark, n_pages, seed, partitions, "degraded.test", page)


def mixed_corpus_df(spark, n_pages: int, seed: int = 11, partitions: int | None = None):
    """Volume-scale MIXED corpus for soaking pipeline.extract_any: every
    fourth payload is HTML (article page), every fourth a PDF (alternating
    FlateDecode compression and mixed show operators), the rest DRF page
    images — built distributed like corpus_df."""

    def page(pid, rng):
        from tesseract_wasm_spark.datapipe.pdfgen import (  # noqa: PLC0415
            make_modern_pdf, make_simple_pdf,
        )

        kind = pid % 4
        if kind == 2:  # html article
            paras = [" ".join(_seeded_lines(rng, 1)) for _ in range(3)]
            return article_html(paras), "\n".join(paras)
        if kind != 3:  # DRF page image
            lines = _seeded_lines(rng, int(rng.integers(4, 14)))
            return render_page_drf(lines), expected_text(lines)
        lines = _seeded_lines(rng, int(rng.integers(3, 7)))  # pdf
        if pid % 16 == 7:  # PDF 1.5: xref stream + ObjStm + CID
            payload = make_modern_pdf(lines, predictor=(pid % 32 == 7))
        elif pid % 16 == 15:  # armored filter cascade
            payload = make_modern_pdf(
                lines, content_filters=("ASCII85Decode", "FlateDecode"),
            )
        else:  # classic containers
            payload = make_simple_pdf(
                lines, compress=(pid % 8 == 3),
                operators="mixed" if pid % 3 == 0 else "tj",
            )
        return payload, "\n".join(lines)

    return _spec_pages(spark, n_pages, seed, partitions, "mixed.test", page)
