"""Distributed-pipeline tests: byte-identity per url, dual-path parity,
skew rebalancing, checkpoint resume, lineage/metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tesseract_wasm_spark import outputs as O
from tesseract_wasm_spark.fixtures import fixtures_df
from tesseract_wasm_spark.pipeline import metrics_df, ocr_pages
from tesseract_wasm_spark.scale import run_extract_with_resume, run_with_resume
from tesseract_wasm_spark.font import export_model


@pytest.fixture(scope="module")
def results(spark):
    res = ocr_pages(fixtures_df(spark, n_corpus_pages=8)).persist()
    res.count()
    yield res
    res.unpersist()


@pytest.fixture(scope="module")
def pages(spark):
    return fixtures_df(spark, n_corpus_pages=8)


def _ok_urls(url_col):
    # html payloads go through pipeline.extract_any's webtext branch, not the
    # OCR surface (their byte identity is pinned in tests/test_webtext.py)
    return ~(
        url_col.contains("rot-") | url_col.contains("bad-")
        | url_col.contains("zero-") | url_col.contains("html-") | url_col.contains("pdf-")
        | url_col.contains("pdfz-") | url_col.contains("pdfm-") | url_col.contains("img-")
    )


def test_byte_identity_per_url(results, pages):
    """The north-rule invariant: extracted text byte-identical per url."""
    got = O.page_text_df(results)
    truth = pages.filter(_ok_urls(F.col("url"))).select("url", "text")
    joined = truth.join(got, "url", "left")
    mism = joined.filter(
        F.col("text_out").isNull() | (F.col("text_out") != F.col("text"))
    ).count()
    assert mism == 0
    assert joined.count() == pages.filter(_ok_urls(F.col("url"))).count()


def test_errors_as_values(results):
    # html fixture payloads are error-as-value rows through the OCR-only
    # surface (a mixed crawl must not kill the job); pipeline.extract_any is
    # the dispatcher that routes them to the webtext path instead
    errs = {r["url"].rsplit("/", 1)[-1]: r["error"] for r in O.errors_df(results).collect()}
    assert errs == {
        "bad-buffer": "Image data length does not match width/height",
        "zero-dim": "Image width or height is zero",
        "html-0": "Unsupported image format",
        "html-1": "Unsupported image format",
        "pdf-0": "Unsupported image format",
        "pdf-1": "Unsupported image format",
        "pdfz-0": "Unsupported image format",
        "pdfm-0": "Unsupported image format",
        "pdfz-1": "Unsupported image format",
        "img-png": "Unsupported image format",
        "img-jpeg": "Unsupported image format",
    }


def test_orientation_distributed(results):
    rows = O.orientation_df(results).filter(F.col("url").contains("rot-")).collect()
    assert {(r["url"].rsplit("-", 1)[-1], r["rotation"], r["confidence"]) for r in rows} == {
        ("90", 90, 1.0), ("180", 180, 1.0), ("270", 270, 1.0),
    }


def test_dual_path_page_text(results):
    """P7 both ways: engine string == SQL rollup of words->lines->page."""
    words = O.words_df(results)
    lines = O.lines_df(words)
    sql_text = O.page_text_from_lines(lines)
    direct = O.page_text_df(results).filter(F.col("text_out") != "")
    joined = direct.join(sql_text.withColumnRenamed("text_out", "sql_text"), "url")
    assert joined.count() == direct.count()
    assert joined.filter(F.col("text_out") != F.col("sql_text")).count() == 0


def test_flags_engine_vs_sql(results):
    checked = O.line_flags_check(O.words_df(results).filter(F.col("text") != ""))
    assert checked.filter(F.col("flags") != F.col("flags_sql")).count() == 0


def test_lines_rollup_golden(results):
    from tesseract_wasm_spark.fixtures import SMALL_PAGE_LINES

    lines = (
        O.lines_df(O.words_df(results))
        .filter(F.col("url").endswith("small-page"))
        .orderBy("line_id")
        .collect()
    )
    assert [r["text"] for r in lines] == [ln + "\n" for ln in SMALL_PAGE_LINES]
    for r in lines:
        assert r["left"] < r["right"] and r["top"] < r["bottom"]
        assert r["n_words"] == len(SMALL_PAGE_LINES[r["line_id"]].split())


def test_empty_page_quirk_distributed(results):
    words = O.words_df(results).filter(F.col("url").contains("empty-"))
    per_url = words.groupBy("url").count().collect()
    assert len(per_url) == 3
    assert all(r["count"] == 1 for r in per_url)
    assert words.filter((F.col("text") != "") | (F.col("right") != 0)).count() == 0
    layout = O.layout_df(results).filter(F.col("url").contains("empty-"))
    assert layout.count() == 0
    # full OCR run: boxes come from the words (layout_boxes intentionally
    # empty), one per word with text or a non-zero right edge
    assert O.layout_df(results).count() == O.words_df(results).filter(
        (F.col("text") != "") | (F.col("right") != 0)
    ).count() > 0


def test_hocr_distributed(results):
    row = O.hocr_df(results).filter(F.col("url").endswith("small-page")).collect()[0]
    h = row["hocr"]
    assert "class='ocr_page' id='page_1'" in h
    assert "x_wconf 100'>Image</span>" in h
    assert h.endswith("</html>")


def test_hocr_empty_page_document(results):
    """A page with zero recognized words yields the same valid empty-page hOCR
    document OCREngine.getHOCR emits (header + bare ocr_page div) — the two
    hOCR surfaces must agree."""
    from tesseract_wasm_spark.api import createOCREngine
    from tesseract_wasm_spark.raster import empty_page

    rows = O.hocr_df(results).filter(F.col("url").contains("empty-100x100")).collect()
    assert len(rows) == 1
    eng = createOCREngine()
    eng.loadModel(export_model())
    eng.loadImage(empty_page(100, 100))
    assert rows[0]["hocr"] == eng.getHOCR()


def test_metrics_lineage(results):
    m = metrics_df(results).collect()
    assert sum(r["pages"] for r in m) == results.count()
    assert all(r["partition_id"] >= 0 for r in m)
    # 2 bad + 2 html + 5 pdf + 2 image payloads through the OCR-only surface
    assert sum(r["errors"] for r in m) == 11


def test_rebalance_partitioning(spark, pages):
    from tesseract_wasm_spark.pipeline import rebalance_pages

    df = rebalance_pages(pages.select("url", "html"), num_partitions=6)
    assert df.rdd.getNumPartitions() == 6
    # no count: one partition per core, so a page job runs one task wave
    df = rebalance_pages(pages.select("url", "html"))
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_resume_idempotent(spark, pages, tmp_path):
    out = str(tmp_path / "ckpt")
    s1 = run_with_resume(spark, pages, out)
    assert s1["pages"] == pages.count() and s1["resumed"] is False
    _assert_flat_bucket_layout(spark, f"{out}/results", spark.sparkContext.defaultParallelism)
    # replay: everything already present -> nothing processed, no duplicates,
    # and no file in results/ or metrics/ added, removed or rewritten
    before = [_listing(f"{out}/results"), _listing(f"{out}/metrics")]
    assert all(before)
    s2 = run_with_resume(spark, pages, out)
    assert s2["pages"] == 0 and s2["resumed"] is True
    assert [_listing(f"{out}/results"), _listing(f"{out}/metrics")] == before
    res = spark.read.parquet(f"{out}/results")
    assert res.count() == res.select("url").distinct().count() == pages.count()
    # partial replay: drop half the inputs -> still nothing to do (idempotence)
    s3 = run_with_resume(spark, pages.limit(5), out)
    assert s3["pages"] == 0
    # metrics table exists with per-partition lineage
    met = spark.read.parquet(f"{out}/metrics")
    assert {"partition_id", "pages", "elapsed_ms", "run_id"} <= set(met.columns)


def test_resume_processes_only_new(spark, pages, tmp_path):
    out = str(tmp_path / "ckpt2")
    first = pages.filter(F.col("url").contains("page-0000"))
    n_first = first.count()
    assert n_first > 0
    run_with_resume(spark, first, out)
    s2 = run_with_resume(spark, pages, out)
    assert s2["pages"] == pages.count() - n_first
    res = spark.read.parquet(f"{out}/results")
    assert res.count() == pages.count()


def test_resume_is_mode_scoped(spark, pages, tmp_path):
    """A layout-only run must not mark urls complete for full extraction."""
    out = str(tmp_path / "ckpt3")
    sub = pages.limit(6)
    s1 = run_with_resume(spark, sub, out, with_text=False)
    assert s1["pages"] == 6
    s2 = run_with_resume(spark, sub, out, with_text=True)  # full run still due
    assert s2["pages"] == 6
    s3 = run_with_resume(spark, sub, out, with_text=True)  # now resumed
    assert s3["pages"] == 0
    res = spark.read.parquet(f"{out}/results")
    assert set(r["mode"] for r in res.select("mode").distinct().collect()) == {"layout", "full"}


def _assert_flat_bucket_layout(spark, table: str, n_tasks: int) -> None:
    """The results layout contract: no url_bucket=K/ directories, every row
    carries url_bucket = pmod(xxhash64(url), 256), rows sorted by
    (url_bucket, url) within each parquet file, one file per map task."""
    import os

    import pyarrow.parquet as pq

    from tesseract_wasm_spark.scale import url_bucket_col

    files = []
    for root, dirs, names in os.walk(table):
        assert not [d for d in dirs if d.startswith("url_bucket=")]
        files += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    assert 1 <= len(files) <= n_tasks
    res = spark.read.parquet(table)
    assert res.filter(~F.col("url_bucket").eqNullSafe(url_bucket_col())).count() == 0
    buckets = set()
    for f in files:
        t = pq.read_table(f, columns=["url_bucket", "url"]).to_pydict()
        keys = list(zip(t["url_bucket"], t["url"]))
        assert keys == sorted(keys), f
        buckets |= set(t["url_bucket"])
    assert len(buckets) >= 2  # the urls spread over >= 2 of 256 buckets


def test_results_bucket_layout(spark, pages, tmp_path):
    """Results carry url_bucket = pmod(xxhash64(url), 256) as a column sorted
    within each file, so the 10^12-row resume anti-join keys on
    (url_bucket, url) — the layout an Iceberg bucket partition spec turns
    into a storage-partitioned join — and a run writes one file per task."""
    out = str(tmp_path / "bl")
    s1 = run_with_resume(spark, pages, out, num_partitions=2)
    assert s1["pages"] == pages.count()
    _assert_flat_bucket_layout(spark, f"{out}/results", 2)
    s2 = run_with_resume(spark, pages, out, num_partitions=2)
    assert s2["pages"] == 0 and s2["resumed"] is True


def test_extract_results_bucket_layout(spark, pages, tmp_path):
    """The mixed-payload job writes the same flat, bucket-sorted layout."""
    out = str(tmp_path / "ebl")
    s1 = run_extract_with_resume(spark, pages, out, num_partitions=2)
    assert s1["pages"] == pages.count()
    _assert_flat_bucket_layout(spark, f"{out}/extracted", 2)
    s2 = run_extract_with_resume(spark, pages, out, num_partitions=2)
    assert s2["pages"] == 0 and s2["resumed"] is True


def _listing(path) -> list[tuple[str, int]]:
    """(path, size) of every file under ``path``, sorted."""
    import os

    return sorted((os.path.join(r, n), os.path.getsize(os.path.join(r, n)))
                  for r, _d, names in os.walk(path) for n in names)


@pytest.mark.parametrize("content", [None, "notes.txt"], ids=["empty-dir", "non-parquet"])
def test_resume_raises_on_unreadable_results_path(spark, pages, tmp_path, content):
    """Only an absent results path means first run: one that exists but
    does not read as a table raises before the run writes anything."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    out = tmp_path / "unreadable"
    (out / "results").mkdir(parents=True)
    if content is not None:
        (out / "results" / content).write_text("not a parquet file\n")
    before = _listing(out)
    with pytest.raises((AnalysisException, Py4JJavaError)):
        run_with_resume(spark, pages, str(out))
    assert _listing(out) == before


@pytest.mark.parametrize("run,table", [(run_with_resume, "results"),
                                       (run_extract_with_resume, "extracted")],
                         ids=["ocr", "extract"])
def test_resume_refuses_hive_layout(spark, pages, tmp_path, run, table):
    """A results table in the old url_bucket=K/ directory layout stops the
    run before anything is written: flat files appended beside those
    directories would break every later read of the table."""
    import re

    out = str(tmp_path / "hive")
    (spark.createDataFrame([("u", "full", 7)], "url string, mode string, url_bucket int")
        .write.partitionBy("url_bucket").parquet(f"{out}/{table}"))
    before = _listing(out)
    with pytest.raises(ValueError, match=re.escape("spark.read.parquet(old).write.parquet(new)")):
        run(spark, pages, out)
    assert _listing(out) == before


@pytest.mark.parametrize("run,table,mode", [(run_with_resume, "results", "full"),
                                            (run_extract_with_resume, "extracted", "extract")],
                         ids=["ocr", "extract"])
def test_resume_refuses_unbucketed_table(spark, pages, tmp_path, run, table, mode):
    """A results table written before the url_bucket column existed stops
    the run before anything is written; the rewrite its message names makes
    it resumable, and the resumed run processes only the urls it lacks."""
    import re

    from tesseract_wasm_spark import scale
    from tesseract_wasm_spark.pipeline import extract_any

    urls = sorted(r["url"] for r in pages.select("url").collect())
    old_urls = urls[:5]
    transform = ocr_pages if mode == "full" else extract_any
    old = str(tmp_path / "old")
    (transform(pages.filter(F.col("url").isin(old_urls)))
        .withColumn("run_id", F.lit("old")).withColumn("mode", F.lit(mode))
        .write.parquet(f"{old}/{table}"))
    before = _listing(old)
    hint = ('spark.read.parquet(old).withColumn("url_bucket", '
            "scale.url_bucket_col()).write.parquet(new)")
    with pytest.raises(ValueError, match=re.escape(hint)):
        run(spark, pages, old)
    assert _listing(old) == before

    new = str(tmp_path / "new")
    (spark.read.parquet(f"{old}/{table}")
        .withColumn("url_bucket", scale.url_bucket_col()).write.parquet(f"{new}/{table}"))
    s = run(spark, pages, new)
    assert s["resumed"] is True and s["pages"] == len(urls) - 5
    got = spark.read.parquet(f"{new}/{table}")
    fresh = [r["url"] for r in got.filter(F.col("run_id") != "old").select("url").collect()]
    assert sorted(fresh) == urls[5:]
    assert got.count() == len(urls)


@pytest.mark.parametrize("run", [run_with_resume, run_extract_with_resume],
                         ids=["ocr", "extract"])
def test_failed_write_releases_cache(spark, pages, tmp_path, monkeypatch, run):
    """A results write that raises still unpersists the job's result frame:
    the session holds no more persisted RDDs afterwards than before."""
    from tesseract_wasm_spark import scale

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def failing_write(*_args, **_kw):
        raise OSError("write failed")

    monkeypatch.setattr(scale, "write_table", failing_write)
    before = persisted()
    with pytest.raises(OSError, match="write failed"):
        run(spark, pages, str(tmp_path / "fail"))
    assert persisted() <= before


def test_extract_any_text_matches_oriented_engine(spark):
    """extract_any runs the OCR branch without orientation (it keeps only the
    text and the error); its rows equal the orientation-on engine's."""
    from tesseract_wasm_spark.engine.page import process_page  # noqa: PLC0415
    from tesseract_wasm_spark.fixtures import mixed_corpus_df  # noqa: PLC0415
    from tesseract_wasm_spark.pipeline import extract_any  # noqa: PLC0415

    pages = mixed_corpus_df(spark, 24).persist()
    got = {r["url"]: tuple(r) for r in
           extract_any(pages).select("url", "kind", "text_out", "error").collect()}
    payloads = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    pages.unpersist()
    assert set(got) == set(payloads)
    ocr = [u for u, row in got.items() if row[1] == "ocr"]
    assert ocr and len(ocr) < len(got)
    for url in ocr:
        res = process_page(payloads[url], with_text=True, with_orientation=True)
        assert got[url] == (url, "ocr", res.page_text, res.error)


def test_process_page_has_one_spark_side_caller():
    """Every Spark job reaches the page engine through one binding: outside
    engine/ and api.py, the name ``process_page`` (a reference, an attribute
    or an import — not a comment or docstring) occurs in exactly one
    function of the package."""
    import ast
    from pathlib import Path

    import tesseract_wasm_spark

    root = Path(tesseract_wasm_spark.__file__).parent
    found: set[str] = set()

    class Scopes(ast.NodeVisitor):
        def __init__(self, module: str) -> None:
            self.stack = [module]

        def visit_FunctionDef(self, node) -> None:
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_ClassDef = visit_FunctionDef

        def generic_visit(self, node) -> None:
            names = (
                [node.id] if isinstance(node, ast.Name)
                else [node.attr] if isinstance(node, ast.Attribute)
                else [a.name for a in node.names] if isinstance(node, ast.ImportFrom)
                else []
            )
            if "process_page" in names:
                found.add(".".join(self.stack))
            super().generic_visit(node)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] == "engine" or rel == Path("api.py"):
            continue
        module = ".".join(rel.with_suffix("").parts)
        Scopes(module).visit(ast.parse(path.read_text(), str(path)))
    assert found == {"pipeline._bind_engine"}
