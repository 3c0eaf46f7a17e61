"""Structured Streaming pipeline tests: drain-all correctness + checkpointed
incremental restart (streaming flavor of resume)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tesseract_wasm_spark.fixtures import fixtures_df
from tesseract_wasm_spark.streaming import ocr_stream


def test_stream_available_now_and_incremental(spark, tmp_path):
    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")

    pages = fixtures_df(spark, n_corpus_pages=4)
    first = pages.filter(F.col("url").contains("page-000"))
    n_first = first.count()
    first.write.mode("append").parquet(in_dir)

    q = ocr_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    res1 = spark.read.parquet(out_dir)
    assert res1.count() == n_first

    # byte identity through the streaming path
    truth = {r["url"]: r["text"] for r in first.collect()}
    for r in res1.select("url", "page_text").collect():
        assert r["page_text"] == truth[r["url"]]

    # add the rest; restarted query processes ONLY the new files
    rest = pages.join(first.select("url"), "url", "left_anti")
    rest.write.mode("append").parquet(in_dir)
    q2 = ocr_stream(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    res2 = spark.read.parquet(out_dir)
    assert res2.count() == pages.count()
    assert res2.select("url").distinct().count() == pages.count()


def test_extract_stream_mixed_payloads(spark, tmp_path):
    """The mixed-payload dispatcher composes with Structured Streaming:
    drained output covers all three kinds and matches ground truth for the
    non-OCR-error rows."""
    from tesseract_wasm_spark.streaming import extract_stream

    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")
    pages = fixtures_df(spark, n_corpus_pages=2)
    pages.write.mode("append").parquet(in_dir)

    q = extract_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    res = spark.read.parquet(out_dir)
    assert res.count() == pages.count()
    assert {r["kind"] for r in res.select("kind").distinct().collect()} == {
        "ocr", "pdf", "html", "image",
    }
    truth = {r["url"]: r["text"] for r in pages.collect()}
    ok_rows = res.filter(F.col("error").isNull() & ~F.col("url").contains("/rot-")).collect()
    for r in ok_rows:
        assert r["text_out"] == truth[r["url"]], r["url"]


def test_ingest_metrics_stream_watermark(spark, tmp_path):
    from tesseract_wasm_spark.streaming import ingest_metrics_stream

    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")
    pages = fixtures_df(spark, n_corpus_pages=6)
    pages.write.mode("append").parquet(in_dir)
    q = ingest_metrics_stream(spark, in_dir, out_dir, ckpt, window="10 minutes",
                              watermark="5 minutes")
    q.awaitTermination(120)
    # append-mode windows behind the watermark flush on the availableNow drain;
    # a second batch of later data closes earlier windows
    pages2 = fixtures_df(spark, n_corpus_pages=6, seed=43)
    pages2.write.mode("append").parquet(in_dir)
    q2 = ingest_metrics_stream(spark, in_dir, out_dir, ckpt, window="10 minutes",
                               watermark="5 minutes")
    q2.awaitTermination(120)
    m = spark.read.parquet(out_dir)
    assert {"window_start", "window_end", "lang", "pages", "payload_bytes"} <= set(m.columns)
    assert m.count() > 0
    assert m.agg(F.sum("pages")).collect()[0][0] > 0


def test_dedup_stream_within_watermark(spark, tmp_path):
    """Streaming exact dedup keeps ONE row per payload content: a mirror
    burst (same payloads under different urls, close event times) collapses;
    distinct payloads all survive; restart-with-checkpoint does not re-emit."""
    from tesseract_wasm_spark.streaming import dedup_stream

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    pages = fixtures_df(spark, n_corpus_pages=4)
    mirror = pages.withColumn("url", F.concat(F.col("url"), F.lit("?mirror=1")))
    pages.unionByName(mirror).write.mode("append").parquet(in_dir)

    q = dedup_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    res = spark.read.parquet(out_dir)
    n_distinct_payloads = pages.select(F.md5("html")).distinct().count()
    assert res.count() == n_distinct_payloads
    assert res.select("content_md5").distinct().count() == n_distinct_payloads
    # restart over the same checkpoint: nothing new to emit
    q2 = dedup_stream(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n_distinct_payloads


def test_rebalance_leaves_streams_alone(spark, tmp_path):
    """pipeline.rebalance_pages returns a streaming frame untouched (file
    sources already split per file; a repartition would shuffle every
    micro-batch), while a batch page job still gets its one Exchange."""
    from tesseract_wasm_spark.pipeline import extract_any, ocr_pages, rebalance_pages
    from tesseract_wasm_spark.streaming import read_pages_stream

    in_dir = str(tmp_path / "pages")
    fixtures_df(spark, n_corpus_pages=1).write.parquet(in_dir)
    stream = read_pages_stream(spark, in_dir)
    assert rebalance_pages(stream) is stream
    for job in (ocr_pages, extract_any):
        streamed = job(stream)._jdf.queryExecution().analyzed().toString()
        assert "RepartitionByExpression" not in streamed, streamed
        batch = job(spark.read.parquet(in_dir))
        plan = batch._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
