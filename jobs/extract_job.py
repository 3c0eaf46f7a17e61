"""Batch extraction job — the spark-submit entry point.

Usage (cluster):
    spark-submit --py-files twspark.zip jobs/extract_job.py \
        --input  s3://bucket/pages_table \
        --output s3://bucket/ocr_out \
        [--layout-only] [--partitions N] [--cores N]

Usage (local sandbox):
    python jobs/extract_job.py --input /tmp/pages.parquet --output /tmp/out

Mirrors the reference's one-shot CLI shape (examples/node-cli/ocr.js:38-62:
load model -> decode -> recognize -> emit, progress to stderr) at cluster
scale: resume-aware (only urls missing from the results table are processed),
with per-partition lineage/metrics appended each run.

Build the --py-files zip with:  python jobs/make_pyfiles.py
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs launch this file directly (sys.path[0] = jobs/); on a cluster the
# package arrives via --py-files instead and this is a no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet/Iceberg path")
    ap.add_argument("--input-format", choices=("parquet", "warc"),
                    default="parquet",
                    help="parquet: a (url, html, ...) pages table (default); "
                         "warc: a glob of .warc(.gz) crawl archives — "
                         "ingested at one task per archive (the Common-Crawl "
                         "grain) into the same pages shape")
    ap.add_argument("--output", required=True, help="output dir (results/ + metrics/)")
    ap.add_argument("--layout-only", action="store_true",
                    help="skip recognition (reference getBoundingBoxes path)")
    ap.add_argument("--mode", choices=("ocr", "mixed"), default="ocr",
                    help="ocr: DRF pages through the OCR engine (default); "
                         "mixed: dispatch every payload kind "
                         "(DRF->OCR, PDF->pdftext, HTML->webtext)")
    ap.add_argument("--recognizer", choices=("template", "lstm"), default="template",
                    help="sequence recognizer: bitpacked template matcher "
                         "(production fast path) or the LSTM+CTC v2 path")
    ap.add_argument("--model-blob", default=None,
                    help="path to a TWSM2 trained-weight blob "
                         "(lstm_ctc.export_lstm_model); needs --recognizer "
                         "lstm; shipped to every worker — the cluster form "
                         "of loadModel")
    ap.add_argument("--url-filter", action="store_true",
                    help="apply the URL screening gate (datapipe/urlfilter: "
                         "blocklist, IP hosts, media extensions, path-depth "
                         "traps) BEFORE extraction — dropped rows never read "
                         "their payload bytes")
    ap.add_argument("--url-blocklist", default=None,
                    help="optional domain blocklist file (one registrable "
                         "domain per line) replacing the built-in default")
    ap.add_argument("--partitions", type=int, default=None,
                    help="partitions of the salted page shuffle (default: "
                         "one task per core)")
    ap.add_argument("--cores", type=int, default=None,
                    help="local mode cores (default: $SPARK_GRAFT_CPUS, else "
                         "the host's CPU count; ignored under a real cluster "
                         "master)")
    args = ap.parse_args()

    from tesseract_wasm_spark.scale import run_extract_with_resume, run_with_resume
    from tesseract_wasm_spark.session import get_spark, ship_package

    spark = get_spark("twspark-extract", cores=args.cores)
    ship_package(spark)  # foreign-cwd local runs: workers need the package too
    if args.input_format == "warc":
        from tesseract_wasm_spark.datapipe.warc import read_warc

        pages = read_warc(spark, args.input)
    else:
        pages = spark.read.parquet(args.input)
    if args.url_filter:
        from pyspark.sql import functions as F

        from tesseract_wasm_spark.datapipe.urlfilter import (
            DEFAULT_BLOCKLIST, url_quality_cols,
        )

        blocklist = DEFAULT_BLOCKLIST
        if args.url_blocklist:
            with open(args.url_blocklist) as fh:
                blocklist = tuple(
                    ln.strip() for ln in fh if ln.strip()
                    and not ln.startswith("#")
                )
        pages = pages.filter(
            url_quality_cols(F.col("url"), blocklist=blocklist)["keep"]
        )
    blob = None
    if args.model_blob:
        with open(args.model_blob, "rb") as fh:
            blob = fh.read()
    if args.mode == "mixed":
        summary = run_extract_with_resume(
            spark, pages, args.output, recognizer=args.recognizer,
            num_partitions=args.partitions, model_blob=blob,
        )
    else:
        summary = run_with_resume(
            spark,
            pages,
            args.output,
            with_text=not args.layout_only,
            recognizer=args.recognizer,
            num_partitions=args.partitions,
            model_blob=blob,
        )
    print(json.dumps(summary), file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
