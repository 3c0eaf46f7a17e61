"""The Spark extraction pipeline: pages table -> per-url OCR results.

Architecture (SURVEY.md §3.4): the driver plays the reference's main thread,
executors its workers, Arrow IPC its postMessage channel. The entire per-page
pipeline (decode -> Otsu -> CC segmentation -> recognition -> orientation) runs
inside ONE ``mapInPandas`` pass so that text, boxes, hOCR and orientation are
all derived from a single computation — the Spark analog of the reference's
``layout_analysis_done_``/``ocr_done_`` memoization (reference:
src/lib.cpp:325-336; SURVEY.md §4 O2).

Vectorization note: Arrow moves batches JVM->Python zero-copy; within a batch
the per-page orchestration is a thin Python loop (pages are the natural batch
unit — each is ~10^5-10^6 pixels), and ALL pixel/glyph math inside is numpy:
binarization, CCL and recognition are whole-page array ops, recognition in
particular one matmul per page (the analog of the reference's SIMD dot-product
lever, src/tesseract-init.js:30-39).

Scale design (the 100 TB view):
  - the extraction map is embarrassingly parallel: its one shuffle is the
    skew rebalance below (none on a stream); downstream relational ops
    shuffle only on (url) / (url, line_id) keys.
  - skew (O10): page byte-size is heavy-tailed; ``rebalance_pages`` salts by
    xxhash64(url) into one uniform partition per core (one task wave), and
    at cluster scale AQE's coalescing/skew handling refines it at runtime.
  - lineage/metrics (O9/P13): every result row carries the executor partition
    id, input batch ordinal and wall-time of its batch; ``metrics_df`` rolls
    them into a per-partition metrics table (the analog of the reference's
    progress channel, src/ocr-client.ts:95-107).
"""

from __future__ import annotations

import functools
import time
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

WORD_FIELDS = (
    "word_id int, line_id int, left int, top int, right int, bottom int, "
    "flags int, confidence double, text string, baseline int, block_id int"
)
LAYOUT_FIELDS = "left int, top int, right int, bottom int, flags int"

RESULT_DDL = (
    "url string, lang string, width int, height int, error string, "
    "rotation int, orient_confidence double, skew_degrees double, "
    f"words array<struct<{WORD_FIELDS}>>, "
    f"layout_boxes array<struct<{LAYOUT_FIELDS}>>, "
    "page_text string, "
    "partition_id int, batch_seq int, batch_elapsed_ms double, batch_pages int"
)


def rebalance_pages(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Explicit skew handling (north rule): a uniform-salt shuffle on
    xxhash64(url), so heavy pages spread evenly in expectation instead of
    clustering by crawl append order; AQE handles the residual tail. One
    cheap shuffle, the right default at 100 TB.

    The default is ``defaultParallelism`` partitions: one task wave. Every
    extra partition costs a Python task, a cache partition, three JVM tasks
    (aggregate, write, metrics) and one more results file. What decides
    whether that cost outweighs the skew a second wave absorbs is the pages
    per call per core. Measured with ``scale.run_with_resume`` at local[4]
    on a 4-vCPU host: at 64 (a 256-page call) one wave ran the OCR map job
    in 0.70 s against 0.97 s as 8 tasks; at 256 and 1024 the two counts
    read within noise of each other, and the heaviest stage's slowest task
    took a median 1.07x its median task, no more than as 8 tasks. Above
    that it is unmeasured; pass ``num_partitions`` there.

    A streaming frame is returned untouched: file-stream sources already
    split per file, and a repartition would force a shuffle per
    micro-batch (as datapipe.dedup._spread)."""
    if df.isStreaming:
        return df
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(num_partitions, F.xxhash64("url"))


def _bind_engine(variables: dict[str, str] | None, model_blob: bytes | None, *,
                 recognizer: str, with_text: bool,
                 with_orientation: bool) -> functools.partial:
    """The one Spark-side binding of the page engine: ``process_page`` with
    every per-job setting fixed, so a mapper calls ``page(payload, lang=lang)``.

    The inputs are validated on the driver, so a bad value fails the CALL
    rather than 10^4 tasks: ``variables`` through config.VariableStore
    (raising the reference's message on an unknown name), ``model_blob``
    parsed once into its EXPLICIT weights tuple (only the lstm recognizer
    reads weights, so a blob with any other is refused, not ignored). The
    task closure carries the bound call and every page gets the weights as
    an argument — never worker-global state: Spark reuses python worker
    processes across jobs, so a global registration would leak one job's
    model into the next."""
    from tesseract_wasm_spark.engine.page import process_page  # noqa: PLC0415

    if variables is not None:
        from tesseract_wasm_spark.config import VariableStore  # noqa: PLC0415

        store = VariableStore()
        for name, value in variables.items():
            store.set(name, value)
        variables = store.as_dict()
    lstm_model = None
    if model_blob is not None:
        if recognizer != "lstm":
            raise ValueError("model_blob needs recognizer='lstm'")
        from tesseract_wasm_spark.engine.lstm_ctc import parse_lstm_model  # noqa: PLC0415

        lstm_model = parse_lstm_model(model_blob)[1]
    return functools.partial(
        process_page, variables=variables, lstm_model=lstm_model,
        recognizer=recognizer, with_text=with_text,
        with_orientation=with_orientation,
    )


def ocr_pages(
    pages: DataFrame,
    *,
    with_text: bool = True,
    with_orientation: bool = True,
    recognizer: str = "template",
    num_partitions: int | None = None,
    variables: dict[str, str] | None = None,
    model_blob: bytes | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text?, lang?) -> one result row per url.

    ``model_blob``: a TWSM2 trained-weight blob (lstm_ctc.export_lstm_model)
    parsed on the driver into an EXPLICIT weight tuple that the task closure
    ships to every worker (Spark broadcasts large closures once per
    executor) — the distributed form of OCREngine.loadModel: with
    ``recognizer='lstm'`` every page decodes from the BLOB's weights, and
    no worker-global state is touched (reused workers can't leak a model
    between jobs).

    ``with_text=False`` is the reference's layout-only cheap path
    (getBoundingBoxes with no model — src/lib.cpp:197-203): recognition is
    skipped entirely, the moral equivalent of column pruning through an
    opaque UDF (SURVEY.md §4 O3).

    ``variables`` is the validated P11 parameter store (config.VariableStore
    — whitelist, interword-space preservation); values are
    validated on the driver and captured by the task closure, the distributed
    analog of the reference's per-engine setVariable (src/lib.cpp:150-170).
    """
    page = _bind_engine(variables, model_blob, recognizer=recognizer,
                        with_text=with_text, with_orientation=with_orientation)
    cols = ["url", "html"] + (["lang"] if "lang" in pages.columns else [])
    src = pages.select(*cols)  # column pruning before the shuffle: never move text/warc_ts
    if "lang" not in pages.columns:
        src = src.withColumn("lang", F.lit("eng"))
    src = rebalance_pages(src, num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # imports inside the worker: keeps the task closure tiny
        from pyspark import TaskContext  # noqa: PLC0415

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        for seq, pdf in enumerate(batches):
            t0 = time.monotonic()
            out = []
            for url, payload, lang in zip(pdf["url"], pdf["html"], pdf["lang"]):
                res = page(bytes(payload), lang=lang)
                # layout_boxes duplicate the words' rects on a full OCR run
                # (the reference returns OCR boxes from getBoundingBoxes once
                # recognition ran — src/ocr-engine.ts:236-239), so they are
                # emitted only on the layout-only path; halves result size.
                layout = (
                    []
                    if with_text
                    else [
                        {"left": b[0], "top": b[1], "right": b[2], "bottom": b[3], "flags": b[4]}
                        for b in res.layout_boxes
                    ]
                )
                out.append(
                    {
                        "url": url,
                        "lang": lang,
                        "width": res.width,
                        "height": res.height,
                        "error": res.error,
                        "rotation": res.rotation,
                        "orient_confidence": res.orient_confidence,
                        "skew_degrees": res.skew_degrees,
                        "words": [vars(w) for w in res.words],
                        "layout_boxes": layout,
                        "page_text": res.page_text,
                    }
                )
            elapsed = (time.monotonic() - t0) * 1000.0
            rdf = pd.DataFrame(
                out,
                columns=[
                    "url", "lang", "width", "height", "error", "rotation",
                    "orient_confidence", "skew_degrees", "words", "layout_boxes", "page_text",
                ],
            )
            rdf["partition_id"] = pid
            rdf["batch_seq"] = seq
            rdf["batch_elapsed_ms"] = elapsed
            rdf["batch_pages"] = len(out)
            yield rdf

    return src.mapInPandas(run, schema=RESULT_DDL)


EXTRACT_DDL = "url string, kind string, text_out string, error string"


def extract_any(
    pages: DataFrame,
    *,
    recognizer: str = "template",
    variables: dict[str, str] | None = None,
    num_partitions: int | None = None,
    model_blob: bytes | None = None,
) -> DataFrame:
    """Unified main-content extraction over a mixed Common-Crawl-style table:
    dispatch per payload — DRF page images through the OCR engine, PDFs
    through the byte-level container parser in stream order (xref streams,
    ObjStm, filter cascades, CID fonts), HTML through the relational
    boilerplate-strip extractor (datapipe/webtext.py), and
    known-but-undecodable image formats (PNG/JPEG) to explicit error rows. Returns (url, kind, text_out, error); errors stay
    values (a bad payload must not kill a 10^12-row job).

    Plan shape — ONE scan of the pages table (the payload column is ~all the
    bytes at crawl scale, so it must be read exactly once):

      1. a single projection computes ``kind`` from the binary prefix, runs
         the HTML extractor as a whole-stage-codegen CASE branch, and prunes
         the payload bytes to NULL for every row that doesn't need Python
         (html/image) — after this projection only OCR/PDF rows still carry
         their bytes;
      2. the ``rebalance_pages`` salt repartition (the same one-Exchange
         skew handling as ``ocr_pages``; none on a stream);
      3. one ``mapInPandas`` pass decodes the remaining payloads (DRF -> OCR
         engine, PDF -> zlib-inflating stream parser) and passes the
         already-extracted html/image rows through untouched.

    The pass-through costs one Arrow round-trip of the *extracted text*
    (≪ payload bytes); the alternative — a union of per-kind branches —
    re-reads the full payload column once per branch because a
    ``substring(html, ..)`` predicate cannot push down into parquet. Captured
    plan in PLANS.md §7; tests assert the single Scan node."""
    from tesseract_wasm_spark import drf  # noqa: PLC0415
    from tesseract_wasm_spark.datapipe.webtext import (  # noqa: PLC0415
        decode_html_expr,
        ensure_total_decode,
        main_content_expr,
    )

    # decode_html_expr's error-as-value guarantee requires
    # spark.sql.legacy.codingErrorAction=true; enforce it here so a caller
    # with their own vanilla SparkSession can't lose the total-decode
    # contract silently (one malformed payload would otherwise throw
    # MALFORMED_CHARACTER_CODING and kill a 10^12-row job)
    ensure_total_decode(pages)
    page = _bind_engine(variables, model_blob, recognizer=recognizer,
                        with_text=True, with_orientation=False)

    payload = F.col("html")
    is_drf = F.substring(payload, 1, len(drf.MAGIC)) == F.lit(drf.MAGIC)
    is_pdf = F.substring(payload, 1, 5) == F.lit(b"%PDF-")
    img_fmt = (
        F.when(F.substring(payload, 1, 8) == F.lit(b"\x89PNG\r\n\x1a\n"), "png")
        .when(F.substring(payload, 1, 3) == F.lit(b"\xff\xd8\xff"), "jpeg")
    )
    kind = (
        F.when(is_drf, "ocr")
        .when(is_pdf, "pdf")
        .when(img_fmt.isNotNull(), "image")
        .otherwise("html")
    )
    lang = F.col("lang") if "lang" in pages.columns else F.lit("eng")
    # transport-channel charset (a WARC source surfaces the HTTP
    # Content-Type parameter as http_charset): WHATWG ranks it between BOM
    # and <meta>, so feed it to the decode when the table carries it
    header_label = (
        F.col("http_charset") if "http_charset" in pages.columns else None
    )
    src = pages.select(
        "url",
        kind.alias("kind"),
        # html extraction happens HERE, inside whole-stage codegen; the map
        # stage below only passes the result through. decode_html_expr makes
        # the payload decode charset-aware (BOM / transport header / <meta
        # charset> sniff) before the strip — still pure expressions, same
        # single scan
        F.when(kind == "html",
               main_content_expr(decode_html_expr(payload, header_label)))
        .alias("expr_text"),
        # recognized-but-undecodable image containers: same error contract as
        # datapipe.multimodal.media_metadata (decoders aren't shippable here)
        F.when(kind == "image", F.concat(F.lit("decoder not available: "), img_fmt))
        .alias("expr_error"),
        F.when(kind.isin("ocr", "pdf"), payload).alias("payload"),
        lang.alias("lang"),
    )
    src = rebalance_pages(src, num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tesseract_wasm_spark.datapipe.pdftext import extract_pdf_bytes  # noqa: PLC0415

        for pdf in batches:
            texts: list[str | None] = []
            errors: list[str | None] = []
            for k, raw, etext, eerr, lg in zip(
                pdf["kind"], pdf["payload"], pdf["expr_text"], pdf["expr_error"], pdf["lang"]
            ):
                if k == "ocr":
                    res = page(bytes(raw), lang=lg)
                    texts.append(res.page_text)
                    errors.append(res.error)
                elif k == "pdf":
                    try:
                        texts.append(extract_pdf_bytes(bytes(raw)))
                        errors.append(None)
                    except Exception as exc:  # corrupt container: error-as-value
                        texts.append(None)
                        errors.append(str(exc))
                else:
                    texts.append(etext)
                    errors.append(eerr)
            yield pd.DataFrame(
                {"url": pdf["url"], "kind": pdf["kind"], "text_out": texts, "error": errors},
                columns=["url", "kind", "text_out", "error"],
            )

    return src.mapInPandas(run, schema=EXTRACT_DDL)


def metrics_df(results: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rollup (north rule; reference progress
    stream P13). One row per (partition, batch): pages processed, wall ms,
    pages/sec — queryable like any table."""
    return (
        results.groupBy("partition_id", "batch_seq")
        .agg(
            F.count("*").alias("pages"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
            F.first("batch_elapsed_ms").alias("elapsed_ms"),
            F.sum(F.length("page_text")).alias("text_bytes"),
        )
        .withColumn(
            "pages_per_sec",
            F.when(F.col("elapsed_ms") > 0, F.col("pages") / (F.col("elapsed_ms") / 1000.0)),
        )
    )
