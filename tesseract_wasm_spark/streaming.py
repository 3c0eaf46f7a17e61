"""Structured Streaming variant of the extraction pipeline.

The reference's async OCRClient processes pages as they arrive and reports
progress out-of-band (src/ocr-client.ts:53-263). The Spark-native analog is a
file/Iceberg stream: ``readStream`` over the pages table -> the same
``mapInPandas`` extraction (stateless per page, so it composes with streaming
with no watermark needed) -> a parquet sink with exactly-once checkpointing.

The streaming checkpoint gives the north rule's resume semantics for free in
the continuous-ingest deployment: a restarted query reprocesses only
uncommitted source files, and every micro-batch appends per-partition metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from tesseract_wasm_spark.fixtures import PAGES_DDL
from tesseract_wasm_spark.pipeline import extract_any, ocr_pages


def _start(df: DataFrame, output_path: str, checkpoint_path: str,
           available_now: bool) -> StreamingQuery:
    """Append ``df`` to parquet at ``output_path`` under an exactly-once
    checkpoint; ``available_now`` drains what is there and stops. Append
    mode: a watermarked aggregation emits each window once the watermark
    passes it."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_pages_stream(spark: SparkSession, input_path: str) -> DataFrame:
    return spark.readStream.schema(PAGES_DDL).parquet(input_path)


def ocr_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    *,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous extraction: new page files -> OCR results parquet.

    ``available_now=True`` drains everything currently available then stops —
    the batch-with-checkpoint shape used in tests and backfills; leave False
    for a long-running ingest query.

    No shuffle-rebalance inside the stream (pipeline.rebalance_pages returns
    a streaming frame untouched): file sources already split by file.
    """
    results = ocr_pages(read_pages_stream(spark, input_path))
    return _start(results, output_path, checkpoint_path, available_now)


def extract_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    *,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous MIXED-payload extraction: new page files -> (url, kind,
    text_out, error) parquet, dispatching DRF/PDF/HTML exactly like the batch
    pipeline.extract_any (its single-scan plan composes with Structured
    Streaming because every row is extracted statelessly)."""
    results = extract_any(read_pages_stream(spark, input_path))
    return _start(results, output_path, checkpoint_path, available_now)


def dedup_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    *,
    watermark: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming exact deduplication: new page files -> one surviving row per
    payload content within the watermark horizon. The state key is
    md5(payload) — 16 bytes per distinct document — and
    ``dropDuplicatesWithinWatermark`` expires state once the event-time
    watermark passes, so state stays bounded on an unbounded crawl (the
    classic recrawl/mirror-burst dedup shape: duplicates arrive close
    together in event time; cross-horizon dedup belongs to the batch
    pipeline, dedup.exact_duplicates)."""
    pages = read_pages_stream(spark, input_path)
    keyed = (
        pages.withColumn("content_md5", F.md5(F.col("html")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_md5"])
    )
    return _start(keyed, output_path, checkpoint_path, available_now)


def ingest_metrics_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Windowed ingest-rate metrics with late-data handling: pages per
    (warc_ts window, lang), watermarked so stragglers up to ``watermark`` late
    still count and state is bounded — the Structured Streaming shape for the
    north rule's continuous metrics table (watermark + windowed aggregation;
    the reference's progress stream P13 generalized to event time)."""
    pages = read_pages_stream(spark, input_path)
    agg = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("pages"),
            F.sum(F.length("html")).alias("payload_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "pages",
            "payload_bytes",
        )
    )
    return _start(agg, output_path, checkpoint_path, available_now)
