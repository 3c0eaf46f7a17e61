"""WARC source tests: the container Common-Crawl-style corpora ship in —
build/parse round-trip, per-record gzip members, malformed-record skipping,
the Spark binaryFile reader, and end-to-end extraction over parsed rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from tesseract_wasm_spark.datapipe.warc import (
    make_warc,
    parse_warc_bytes,
    read_warc,
    warc_file_stats,
)

_RECS = [
    ("https://example.test/a", "2024-01-01T00:00:00Z", b"<html><body><p>alpha doc</p></body></html>"),
    ("https://example.test/b", "2024-01-01T00:01:00Z", b"<html><body><p>beta doc</p></body></html>"),
    ("https://example.test/c", "2024-01-02T12:30:00Z", b"\x00\x01binary payload\xff"),
]


def test_round_trip_plain_and_gzip():
    for compress in (False, True):
        blob = make_warc(_RECS, compress=compress)
        if compress:
            assert blob[:2] == b"\x1f\x8b"
            # one gzip member per record (the .warc.gz seekable convention)
            assert blob.count(b"\x1f\x8b\x08") >= 3
        rows, n_bad = parse_warc_bytes(blob)
        assert n_bad == 0
        assert [(r["url"], r["warc_ts"], r["html"]) for r in rows] == _RECS


def test_non_response_records_skipped_and_bad_counted():
    blob = make_warc(_RECS[:1], compress=False)
    warcinfo = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
    )
    bad = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: oops\r\n\r\n"
    rows, n_bad = parse_warc_bytes(warcinfo + blob + bad)
    assert [r["url"] for r in rows] == ["https://example.test/a"]
    assert n_bad == 1
    # truncated gzip member: parsed records kept, no exception
    gz = make_warc(_RECS, compress=True)
    rows2, _ = parse_warc_bytes(gz[: len(gz) - 7])
    assert len(rows2) >= 2


def test_read_warc_spark(spark, tmp_path):
    (tmp_path / "f1.warc.gz").write_bytes(make_warc(_RECS[:2]))
    (tmp_path / "f2.warc.gz").write_bytes(make_warc(_RECS[2:]))
    df = read_warc(spark, str(tmp_path / "*.warc.gz"))
    rows = {r["url"]: r for r in df.collect()}
    assert set(rows) == {r[0] for r in _RECS}
    assert bytes(rows["https://example.test/c"]["html"]) == _RECS[2][2]
    assert str(rows["https://example.test/b"]["warc_ts"]) == "2024-01-01 00:01:00"
    stats = {r["path"].rsplit("/", 1)[-1]: r for r in
             warc_file_stats(spark, str(tmp_path / "*.warc.gz")).collect()}
    assert stats["f1.warc.gz"]["n_records"] == 2
    assert stats["f2.warc.gz"]["n_records"] == 1
    assert all(s["n_bad"] == 0 for s in stats.values())


def test_warc_to_extraction_end_to_end(spark, tmp_path):
    """The full source tier: archive -> (url, warc_ts, html) -> extract_any
    main text, byte-identical to the page content."""
    from tesseract_wasm_spark.pipeline import extract_any

    page = (b"<html><head><title>t</title></head><body>"
            b'<nav><a href="/">Home</a></nav>'
            b"<article><p>warc to text pipeline works</p></article>"
            b"<footer>2024</footer></body></html>")
    (tmp_path / "c.warc.gz").write_bytes(
        make_warc([("https://example.test/p", "2024-02-01T00:00:00Z", page)])
    )
    pages = read_warc(spark, str(tmp_path / "*.warc.gz"))
    out = extract_any(pages).collect()
    assert len(out) == 1
    assert out[0]["kind"] == "html" and out[0]["error"] is None
    assert out[0]["text_out"] == "warc to text pipeline works"


def test_extract_job_warc_input(spark, tmp_path):
    """spark-submit deployment path: --input-format warc ingests archives
    straight into the resume-aware mixed extraction job."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    page = (b"<html><head><title>t</title></head><body>"
            b"<article><p>cli warc ingestion works</p></article></body></html>")
    (tmp_path / "a.warc.gz").write_bytes(
        make_warc([("https://t.test/cli", "2024-03-01T00:00:00Z", page)])
    )
    out = subprocess.run(
        [sys.executable, "jobs/extract_job.py",
         "--input", str(tmp_path / "*.warc.gz"), "--input-format", "warc",
         "--mode", "mixed", "--output", str(tmp_path / "out"), "--cores", "2"],
        capture_output=True, text=True, cwd=Path(__file__).resolve().parents[1], check=True,
    )
    summary = json.loads(out.stderr.strip().splitlines()[-1])
    assert summary["pages"] == 1 and summary["errors"] == 0
    got = spark.read.parquet(str(tmp_path / "out" / "extracted")).collect()
    assert got[0]["text_out"] == "cli warc ingestion works"


def test_warc_round_trip_property():
    """Property: ANY payload bytes — including embedded 'WARC/1.0' markers,
    CRLF-CRLF separators, and gzip magic — round-trip through build+parse
    (the Content-Length walk must never re-sync inside a body)."""
    from hypothesis import given, settings, strategies as st

    adversarial = st.sampled_from([
        b"WARC/1.0\r\n", b"\r\n\r\n", b"\x1f\x8b\x08", b"endstream",
        b"Content-Length: 0\r\n", b"",
    ])
    chunk = st.one_of(st.binary(max_size=24), adversarial)

    @settings(max_examples=80, deadline=None)
    @given(st.lists(st.lists(chunk, max_size=6).map(b"".join),
                    min_size=1, max_size=4),
           st.booleans())
    def check(payloads, compress):
        recs = [(f"https://p.test/{i}", "2024-01-01T00:00:00Z", p)
                for i, p in enumerate(payloads)]
        rows, n_bad = parse_warc_bytes(make_warc(recs, compress=compress))
        assert n_bad == 0
        assert [(r["url"], r["html"]) for r in rows] == [
            (u, p) for u, _, p in recs
        ]

    check()


def test_http_charset_channel(spark, tmp_path):
    """WHATWG charset precedence BOM > transport header > meta, end to end
    through the WARC container: the parser surfaces the HTTP Content-Type
    charset as http_charset, and extract_any consumes it — a cp1252 page
    with NO meta tag (transport-only) decodes its typographic punctuation
    correctly, a BOM page beats a wrong transport label, and a meta label
    still applies when the header has none."""
    from tesseract_wasm_spark.datapipe.warc import make_warc, parse_warc_bytes
    from tesseract_wasm_spark.pipeline import extract_any

    text = "“Smart” — it’s café…"
    body = ("<html><head><title>t</title></head><body><article><p>"
            + text + "</p></article></body></html>")
    meta_body = body.replace("<head>", '<head><meta charset="windows-1252">')
    recs = [
        # transport-only cp1252: no meta, header must drive the decode
        ("https://w.test/hdr", "2024-01-01T00:00:00Z",
         body.encode("cp1252"), "text/html; charset=windows-1252"),
        # BOM beats a WRONG transport label
        ("https://w.test/bom", "2024-01-01T00:01:00Z",
         b"\xef\xbb\xbf" + body.encode("utf-8"),
         "text/html; charset=iso-8859-1"),
        # no charset param in the header: meta still applies
        ("https://w.test/meta", "2024-01-01T00:02:00Z",
         meta_body.encode("cp1252"), "text/html"),
    ]
    rows, n_bad = parse_warc_bytes(make_warc(recs))
    assert n_bad == 0
    assert [r["http_charset"] for r in rows] == ["windows-1252",
                                                 "iso-8859-1", None]
    import pandas as pd

    frame = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "http_charset"])
    frame["warc_ts"] = pd.to_datetime(frame["warc_ts"], utc=True).dt.tz_localize(None)
    pages = spark.createDataFrame(frame)
    got = {r["url"].rsplit("/", 1)[-1]: r["text_out"]
           for r in extract_any(pages).collect()}
    for name in ("hdr", "bom", "meta"):
        assert text in got[name], (name, got[name])
