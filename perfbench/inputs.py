"""Seeded workload inputs and the DuckDB oracle for the dedup suite.

Page corpora are built in the Spark driver process from the package's
public renderers (``raster.render_page_drf``, ``fixtures.article_html``,
the pdftext fixture writers) and written as one parquet file in the
pages-table schema that ``jobs/extract_job.py`` reads. The same seed gives
the same bytes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import re
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import BENCH_DIR, ROOT

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()),
])
BASE_TS = dt.datetime(2024, 1, 1)
WORDS = (
    "spark page text line word scan image engine table query batch worker "
    "column value order group join filter merge data small large quick brown "
    "fox jumps over the lazy dog a an of to in is on at by for with from and "
    "Optical Character Recognition Thresholding baseline glyph binary document "
    "extraction pipeline output input stream result"
).split()

DEDUP_TABLES = ("documents", "embeddings")
DEDUP_QUERIES = ("dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_embedding", "ann_topk")


def seeded_lines(rng: np.random.Generator, n_lines: int, max_cols: int = 60) -> list[str]:
    lines = []
    for _ in range(n_lines):
        words: list[str] = []
        cols = 0
        while True:
            w = WORDS[int(rng.integers(0, len(WORDS)))]
            extra = len(w) + (1 if words else 0)
            if cols + extra > max_cols:
                break
            cols += extra
            words.append(w)
        lines.append(" ".join(words))
    return lines


def page_line_counts(n_pages: int, seed: int) -> list[int]:
    """Line count per page: exactly one page in eight has 40-90 lines, the
    rest 4-13. Counts are spread evenly over each range and then shuffled,
    so every seed carries the same total amount of text (the seed moves
    which pages are big and what they say, not how much work there is)."""
    rng = np.random.default_rng([seed, 1])
    n_big = n_pages // 8
    big = np.round(np.linspace(40, 89, n_big)).astype(int) if n_big else np.zeros(0, int)
    small = 4 + np.arange(n_pages - n_big) % 10
    counts = np.concatenate([big, small])
    return [int(c) for c in counts[rng.permutation(n_pages)]]


def _row(prefix: str, i: int, payload: bytes, text: str) -> dict:
    return {"url": f"https://{prefix}.bench/page/{i:06d}",
            "warc_ts": BASE_TS + dt.timedelta(seconds=i),
            "html": payload, "text": text, "lang": "eng"}


def ocr_corpus(n_pages: int, seed: int) -> pd.DataFrame:
    """DRF page images shaped like ``fixtures.corpus_df``."""
    from tesseract_wasm_spark.fixtures import expected_text  # noqa: PLC0415
    from tesseract_wasm_spark.raster import render_page_drf  # noqa: PLC0415

    rows = []
    for i, n_lines in enumerate(page_line_counts(n_pages, seed)):
        lines = seeded_lines(np.random.default_rng([seed, 2, i]), n_lines)
        rows.append(_row("ocr", i, render_page_drf(lines), expected_text(lines)))
    return pd.DataFrame(rows)


def mixed_corpus(n_pages: int, seed: int) -> pd.DataFrame:
    """The 50/25/25 DRF/HTML/PDF mix of ``fixtures.mixed_corpus_df``: small
    DRF pages, boilerplate-wrapped HTML articles, and PDFs in classic,
    FlateDecode, xref-stream/ObjStm and filter-cascade containers."""
    from tesseract_wasm_spark.datapipe.pdftext import (  # noqa: PLC0415
        make_modern_pdf, make_simple_pdf,
    )
    from tesseract_wasm_spark.fixtures import article_html, expected_text  # noqa: PLC0415
    from tesseract_wasm_spark.raster import render_page_drf  # noqa: PLC0415

    rows = []
    for i in range(n_pages):
        rng = np.random.default_rng([seed, 3, i])
        kind = i % 4
        if kind == 2:
            paras = seeded_lines(rng, 3)
            payload, truth = article_html(paras), "\n".join(paras)
        elif kind == 3:
            lines = seeded_lines(rng, 3 + i % 4)
            if i % 16 == 7:
                payload = make_modern_pdf(lines, predictor=(i % 32 == 7))
            elif i % 16 == 15:
                payload = make_modern_pdf(
                    lines, content_filters=("ASCII85Decode", "FlateDecode"))
            else:
                payload = make_simple_pdf(lines, compress=(i % 8 == 3),
                                          operators="mixed" if i % 3 == 0 else "tj")
            truth = "\n".join(lines)
        else:
            lines = seeded_lines(rng, 4 + i % 10)
            payload, truth = render_page_drf(lines), expected_text(lines)
        rows.append(_row("mixed", i, payload, truth))
    return pd.DataFrame(rows)


def write_pages(df: pd.DataFrame, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, schema=PAGES_SCHEMA, preserve_index=False), path)


def write_dedup_tables(seed: int, out_dir: Path) -> None:
    """The committed dedup tables with their rows permuted by ``seed``;
    content never changes, so one oracle serves every seed."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in DEDUP_TABLES:
        table = pq.read_table(BENCH_DIR / "data" / f"{name}.parquet")
        order = np.random.default_rng([seed, 4]).permutation(table.num_rows)
        pq.write_table(table.take(pa.array(order)), out_dir / f"{name}.parquet")


# ---------------------------------------------------------------- oracle


def _value_hash():
    """``value_hash`` from ``tools/check_parity.py``, the hash the parity
    gate compares Spark output and DuckDB twins with."""
    tools = str(ROOT / "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_parity import value_hash  # noqa: PLC0415

    return value_hash


def hash_rows(rows: list[dict], cols: list[str]) -> str:
    return _value_hash()(rows, cols)


def dedup_oracle(cache_dir: Path) -> dict[str, dict]:
    """Row count and ``check_parity.value_hash`` of every dedup query's
    DuckDB twin from ``queries.REGISTRY``, over the committed (unpermuted)
    tables. Computed once per checkout and cached; the cache key covers the
    tables, the SQL text and every file the SQL reads."""
    import duckdb  # noqa: PLC0415

    from tesseract_wasm_spark import queries  # noqa: PLC0415

    key = hashlib.sha256()
    for name in DEDUP_TABLES:
        key.update((BENCH_DIR / "data" / f"{name}.parquet").read_bytes())
    for name in DEDUP_QUERIES:
        sql = queries.REGISTRY[name][1]
        key.update(sql.encode())
        for src in re.findall(r"read_parquet\('([^']+)'\)", sql):
            key.update(Path(src.replace("''", "'")).read_bytes())
    path = cache_dir / f"dedup-oracle-{key.hexdigest()[:16]}.json"
    if path.exists():
        return json.loads(path.read_text())

    con = duckdb.connect()
    for name in DEDUP_TABLES:
        src = str(BENCH_DIR / "data" / f"{name}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    value_hash = _value_hash()
    oracle = {}
    for name in DEDUP_QUERIES:
        cur = con.execute(queries.REGISTRY[name][1])
        cols = [d[0] for d in cur.description]
        rows = [dict(zip(cols, r)) for r in cur.fetchall()]
        oracle[name] = {"rows": len(rows), "cols": sorted(cols),
                        "hash": value_hash(rows, cols)}
    con.close()
    cache_dir.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(oracle, indent=1))
    return oracle
