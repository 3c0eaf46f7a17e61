"""The traced run: spans around the calls into each layer, in-process stage
timing of the OCR engine, probes for layers a workload does not reach, and
the Spark event log.

Spans are recorded from the benchmark's side only: ``Tracer.patch`` swaps a
module (or class) attribute for a wrapper for the duration of one call and
restores it afterwards. The package's source is never edited.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import common, inputs, jobs
from perfbench.common import Tracer

#: Which end-to-end metric each per-layer metric should move, and on which
#: workload (a layer change that moves its metric but not the named
#: end-to-end one has not paid off). Keys are the per-layer names in
#: BENCHMARK.json.
MOVES = {
    **{m: "job_s and job_cpu_s on ocr_job; not dedup_suite"
       for m in ("drf", "engine.otsu", "engine.components", "engine.deskew",
                 "engine.segment", "engine.orientation", "engine.recognize", "engine.page",
                 "engine.page.self_ms", "engine.components.calls_per_page",
                 "engine.deskew.unshear_share")},
    **{m: "job_s on ocr_job" for m in (
        "pipeline.engine_busy_share", "pipeline.arrow_roundtrip_s", "pipeline.task_skew",
        "scaling_eff", "scale.write_s", "scale.files_written", "scale.bytes_written")},
    "scale.resume_s": "job_s on ocr_job only through completed_urls on its empty output "
                      "dir; the anti-join runs when a job resumes, which no workload times",
    **{m: "no benchmarked workload: only run_extract_with_resume's PDF/HTML branches "
          "reach it" for m in ("datapipe.pdftext.extract_ms", "datapipe.webtext.html_s")},
    **{m: "job_s and job_cpu_s on dedup_suite" for m in (
        *(f"query.{q}_s" for q in inputs.DEDUP_QUERIES),
        "datapipe.dedup.minhash_verify_yield", "datapipe.similarity.srp_verify_yield")},
    **{f"spark.{m}": "explains whichever job_s or job_cpu_s moved, per workload" for m in (
        "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
        "spill_bytes", "task_count", "peak_rss_mb")},
    "trace.overhead_s": "none: traced wall minus the mean of the untraced calls around it",
    "trace.unexplained_s": "none: job wall not covered by a blocking layer span",
}

#: Per-layer metric name -> unit, as BENCHMARK.json declares them.
UNITS = {m["name"]: m["unit"] for m in json.loads(
    (common.ROOT / "BENCHMARK.json").read_text())["per_layer"]}

ENGINE_SAMPLE = 64
MIXED_PAGES = 256
JOB_GROUP = "perfbench-traced"

#: (module, attribute, layer) for every stage ``engine/page.py`` calls.
#: Names are patched where page.py looks them up: its own module globals for
#: the names it imports at load time, the source module for the ones it
#: imports inside the function.
ENGINE_STAGES = (
    ("tesseract_wasm_spark.drf", "decode", "drf"),
    ("tesseract_wasm_spark.engine.page", "binarize", "engine.otsu"),
    ("tesseract_wasm_spark.engine.page", "label_components", "engine.components"),
    ("tesseract_wasm_spark.engine.deskew", "detect_shear_per_mille", "engine.deskew"),
    ("tesseract_wasm_spark.engine.deskew", "unshear", "engine.deskew.unshear"),
    ("tesseract_wasm_spark.engine.page", "segment", "engine.segment"),
    ("tesseract_wasm_spark.engine.segment", "find_blocks", "engine.segment"),
    ("tesseract_wasm_spark.engine.segment", "subset", "engine.segment"),
    ("tesseract_wasm_spark.engine.orientation", "orientation_scores", "engine.orientation"),
    ("tesseract_wasm_spark.engine.orientation", "decide_orientation", "engine.orientation"),
    ("tesseract_wasm_spark.engine.page", "recognize_words", "engine.recognize"),
    ("tesseract_wasm_spark.engine.page", "process_page", "engine.page"),
)


# ---------------------------------------------------------------- engine


def engine_stages(payloads: list[bytes]) -> dict[str, float]:
    """ms/page of every engine stage over ``payloads`` in this process,
    plus ``engine.page.self_ms`` (process_page minus its stages: despeckle
    and emit), components calls per page and the share of pages unsheared."""
    import importlib  # noqa: PLC0415

    page = importlib.import_module("tesseract_wasm_spark.engine.page")
    page.process_page(payloads[0])  # font banks and caches, outside the spans
    tracer = Tracer()
    for mod, attr, layer in ENGINE_STAGES:
        tracer.patch(importlib.import_module(mod), attr, layer)
    try:
        for payload in payloads:
            page.process_page(payload)
    finally:
        tracer.restore()
    times = common.layer_times(tracer.spans)
    n = len(payloads)

    def ms(*names: str) -> float:
        return 1000.0 * sum(times.get(x, {}).get("self_s", 0.0) for x in names) / n

    out = {name: ms(name) for name in ("drf", "engine.otsu", "engine.components",
                                       "engine.segment", "engine.orientation",
                                       "engine.recognize")}
    out["engine.deskew"] = ms("engine.deskew", "engine.deskew.unshear")
    out["engine.page"] = 1000.0 * times["engine.page"]["total_s"] / n
    out["engine.page.self_ms"] = ms("engine.page")
    out["engine.components.calls_per_page"] = tracer.counts.get("engine.components", 0) / n
    out["engine.deskew.unshear_share"] = tracer.counts.get("engine.deskew.unshear", 0) / n
    return out


def drf_payloads(pages_file: Path, limit: int, seed: int) -> list[bytes]:
    """A seeded sample of the DRF payloads in a pages parquet file."""
    import numpy as np  # noqa: PLC0415

    from tesseract_wasm_spark import drf  # noqa: PLC0415

    html = pq.read_table(pages_file, columns=["html"]).column("html").to_pylist()
    drfs = [h for h in html if h.startswith(drf.MAGIC)]
    pick = np.random.default_rng([seed, 6]).permutation(len(drfs))[:limit]
    return [drfs[i] for i in sorted(pick)]


def pdf_extract_ms(pages_file: Path) -> float:
    """ms per PDF of ``pdftext.extract_pdf_bytes`` over every PDF payload."""
    from tesseract_wasm_spark.datapipe.pdftext import extract_pdf_bytes  # noqa: PLC0415

    html = pq.read_table(pages_file, columns=["html"]).column("html").to_pylist()
    pdfs = [h for h in html if h.startswith(b"%PDF-")]
    extract_pdf_bytes(pdfs[0])
    t0 = time.perf_counter()
    for raw in pdfs:
        extract_pdf_bytes(raw)
    return 1000.0 * (time.perf_counter() - t0) / len(pdfs)


# ---------------------------------------------------------------- spark probes


def _noop_write(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def html_branch_s(spark, pages_file: Path) -> float:
    """Noop write of ``extract_any`` over the HTML rows only."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from tesseract_wasm_spark.pipeline import extract_any  # noqa: PLC0415

    pages = spark.read.parquet(str(pages_file))
    html = pages.filter(F.substring("html", 1, 6) == F.lit(b"<html>"))
    return _noop_write(extract_any(html))


def arrow_roundtrip_s(spark, pages_file: Path) -> float:
    """Identity ``mapInPandas`` over the rebalanced page input: the
    JVM -> Arrow -> Python -> Arrow -> JVM cost with no engine work."""
    from tesseract_wasm_spark.pipeline import rebalance_pages  # noqa: PLC0415

    src = rebalance_pages(spark.read.parquet(str(pages_file)).select("url", "html", "lang"))

    def identity(batches):
        yield from batches

    return _noop_write(src.mapInPandas(identity, schema=src.schema))


def resume_s(spark, pages_file: Path, table: Path) -> float:
    """``scale.completed_urls`` plus the bucketed anti-join of an OCR rerun
    over its own results, counted."""
    from tesseract_wasm_spark import scale  # noqa: PLC0415

    pages = spark.read.parquet(str(pages_file))
    t0 = time.perf_counter()
    done = scale.completed_urls(spark, str(table), "full")
    todo = pages if done is None else (
        pages.withColumn("url_bucket", scale.url_bucket_col())
        .join(done, ["url_bucket", "url"], "left_anti"))
    todo.count()
    return time.perf_counter() - t0


def engine_busy_share(table: Path, wall: float, cores: int) -> float:
    """Sum of the OCR output's ``batch_elapsed_ms`` (once per batch) over
    the wall of the call times the cores."""
    t = pq.read_table(table, columns=["partition_id", "batch_seq", "batch_elapsed_ms"]).to_pydict()
    batches = dict(zip(zip(t["partition_id"], t["batch_seq"]), t["batch_elapsed_ms"]))
    return sum(batches.values()) / 1000.0 / (wall * cores)


def verify_yields(spark, dedup_dir: Path, outputs: dict) -> dict[str, float]:
    """Pairs kept by verification over candidate pairs, from the public
    banding functions with the parameters the registry queries use."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from tesseract_wasm_spark.datapipe.dedup import bucket_pairs, minhash_banded  # noqa: PLC0415
    from tesseract_wasm_spark.datapipe.similarity import srp_multi_signatures  # noqa: PLC0415

    docs = spark.read.parquet(str(dedup_dir / "documents.parquet")).select("doc_id", "text")
    mh = bucket_pairs(minhash_banded(docs, num_perm=64, bands=16), ["band_id", "bucket"]).count()
    emb = spark.read.parquet(str(dedup_dir / "embeddings.parquet"))
    banded = srp_multi_signatures(emb, n_bits=3, n_tables=64, carry_cols=("label",)).select(
        "vec_id", "label", F.posexplode("buckets").alias("table_id", "bucket"))
    srp = bucket_pairs(banded, ["table_id", "bucket", "label"], id_col="vec_id",
                       max_bucket=None).count()
    return {
        "datapipe.dedup.minhash_verify_yield": len(outputs["dedup_minhash"][0]) / mh,
        "datapipe.similarity.srp_verify_yield": len(outputs["dedup_embedding"][0]) / srp,
    }


# ---------------------------------------------------------------- event log


def spark_event_metrics(log_dir: Path, group: str = JOB_GROUP) -> dict[str, float]:
    """Task metrics of the jobs in ``group`` from the event logs in
    ``log_dir``, plus the skew (slowest / median task) of the stage with
    the most executor run time."""
    stages: set[tuple[str, int]] = set()
    tasks: list[tuple[tuple[str, int], dict, dict]] = []
    for path in sorted(log_dir.iterdir()):
        if not path.is_file() or path.name.startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                        stages.update((path.name, s) for s in ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.append(((path.name, ev["Stage ID"]), ev["Task Info"], ev["Task Metrics"]))
    mine = [(st, info, m) for st, info, m in tasks if st in stages]
    per_stage: dict[tuple[str, int], list[tuple[float, float]]] = {}
    for st, info, m in mine:
        per_stage.setdefault(st, []).append(
            (m["Executor Run Time"], info["Finish Time"] - info["Launch Time"]))
    skew = 1.0
    if per_stage:
        heavy = max(per_stage.values(), key=lambda ts: sum(t[0] for t in ts))
        durations = [d for _, d in heavy]
        med = statistics.median(durations)
        skew = max(durations) / med if med > 0 else 1.0
    return {
        "spark.executor_run_s": sum(m["Executor Run Time"] for _, _, m in mine) / 1e3,
        "spark.executor_cpu_s": sum(m["Executor CPU Time"] for _, _, m in mine) / 1e9,
        "spark.gc_s": sum(m["JVM GC Time"] for _, _, m in mine) / 1e3,
        "spark.shuffle_write_bytes": float(sum(
            m["Shuffle Write Metrics"]["Shuffle Bytes Written"] for _, _, m in mine)),
        "spark.spill_bytes": float(sum(
            m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"] for _, _, m in mine)),
        "spark.task_count": float(len(mine)),
        "pipeline.task_skew": skew,
    }


# ---------------------------------------------------------------- traced run


def _patch_job_layers(tracer: Tracer, spark) -> None:
    """Spans around the calls a job makes into the scale/pipeline layers and
    around the Spark actions that block on the engine."""
    from tesseract_wasm_spark import scale  # noqa: PLC0415

    for attr, layer in (("completed_urls", "scale.completed_urls"),
                        ("ocr_pages", "pipeline.ocr_pages"),
                        ("extract_any", "pipeline.extract_any"),
                        ("metrics_df", "pipeline.metrics_df"),
                        ("write_table", "scale.write_table")):
        tracer.patch(scale, attr, layer)
    frame = type(spark.range(1))
    for attr in ("count", "collect", "persist", "unpersist"):
        tracer.patch(frame, attr, f"spark.{attr}")


def _call_with_spans(job, spark, tracer: Tracer):
    _patch_job_layers(tracer, spark)
    try:
        return job.run_once(spark, tracer)
    finally:
        tracer.restore()


def _traced_call(job, spark, tracer: Tracer):
    """One call of ``job`` with the layer spans on, its Spark jobs tagged
    for the event log and the JVM + workers' RSS sampled."""
    spark.sparkContext.setJobGroup(JOB_GROUP, job.name)
    try:
        with common.RssSampler() as rss:
            result = _call_with_spans(job, spark, tracer)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return result, rss.peak_mb


def _span_total(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def traced_run(workload, work: Path, lo: int, hi: int) -> dict:
    """A traced call of the workload's job at local[hi] between two untraced
    ones; probes for every layer, taken from the traced call where the
    workload reaches the layer and otherwise from a warmed call of the
    workload that owns it; ``scaling_eff`` from the warmed OCR call with
    spans at local[hi] against one at local[lo]; the event-log metrics of
    the traced call. Every output produced is checked."""
    log_dir = work / "eventlog" / uuid.uuid4().hex[:12]
    seed = workload.seed
    ocr = workload if isinstance(workload, jobs.OcrJob) else jobs.OcrJob(work, seed)
    dedup = workload if isinstance(workload, jobs.DedupSuite) else jobs.DedupSuite(work, seed)
    metrics: dict[str, float] = {}
    checked: list[jobs.Result] = []
    spark, _ = jobs.start_session(work, hi, log_dir)
    try:
        workload.prepare(spark)
        workload.run_once(spark)  # warm-up
        # the traced call sits between two untraced ones, so the warm-up
        # trend of the first calls cancels out of the overhead
        before = workload.run_once(spark)
        tracer = Tracer()
        traced, metrics["spark.peak_rss_mb"] = _traced_call(workload, spark, tracer)
        after = workload.run_once(spark)
        checked += [before, traced, after]
        untraced_wall = (before.wall_s + after.wall_s) / 2
        tracer.dump(work / "spans" / f"{workload.name}-{tracer.run_id}.json")
        rec = common.reconcile(next(s for s in tracer.spans if s["name"] == "job"), tracer.spans)
        metrics["trace.overhead_s"] = traced.wall_s - untraced_wall
        metrics["trace.unexplained_s"] = rec["unexplained_s"]
        lines = _layer_table(workload.name, tracer.spans, rec, metrics["trace.overhead_s"])

        # OCR map and results write, from a warmed OCR call with spans
        if workload is ocr:
            page, page_spans = traced, tracer.spans
        else:
            ocr.prepare(spark)
            checked.append(ocr.run_once(spark))  # warm-up
            probe = Tracer()
            page = _call_with_spans(ocr, spark, probe)
            checked.append(page)
            page_spans = probe.spans
        metrics["pipeline.engine_busy_share"] = engine_busy_share(
            ocr.result_table(), page.wall_s, hi)
        metrics["pipeline.arrow_roundtrip_s"] = arrow_roundtrip_s(spark, ocr.dir / "pages.parquet")
        metrics["scale.write_s"] = _span_total(page_spans, "scale.write_table")
        files, size = jobs.dir_stats(ocr.result_table())
        metrics["scale.files_written"] = float(files)
        metrics["scale.bytes_written"] = float(size)
        metrics["scale.resume_s"] = resume_s(spark, ocr.dir / "pages.parquet", ocr.result_table())

        # engine stages in this process, on the OCR job's DRF pages
        metrics.update(engine_stages(drf_payloads(
            ocr.dir / "pages.parquet", ENGINE_SAMPLE, seed)))

        # PDF and HTML branches of the mixed corpus
        mixed_pages = work / "inputs" / f"mixed-{seed}" / "pages.parquet"
        if not mixed_pages.exists():
            inputs.write_pages(inputs.mixed_corpus(MIXED_PAGES, seed), mixed_pages)
        metrics["datapipe.pdftext.extract_ms"] = pdf_extract_ms(mixed_pages)
        metrics["datapipe.webtext.html_s"] = html_branch_s(spark, mixed_pages)

        # dedup queries
        if workload is dedup:
            suite, suite_spans = traced, tracer.spans
        else:
            dedup.prepare(spark)
            probe = Tracer()
            suite = dedup.run_once(spark, probe)
            suite_spans = probe.spans
            checked.append(suite)
        for q in inputs.DEDUP_QUERIES:
            metrics[f"query.{q}_s"] = _span_total(suite_spans, f"query.{q}")
        metrics.update(verify_yields(spark, dedup.dir, suite.extra["outputs"]))

        if lo != hi:
            # same JVM; the warm-up call builds the new workers' engine
            # caches before the timed one
            spark.stop()
            spark, _ = jobs.start_session(work, lo, log_dir)
            checked.append(ocr.run_once(spark))
            low = _call_with_spans(ocr, spark, Tracer())
            checked.append(low)
            metrics["scaling_eff"] = common.scaling_eff(
                page.items / page.wall_s, low.items / low.wall_s, hi, lo)
            lines.append(f"# scaling ocr_job local[{lo}] {low.wall_s:.3f}s vs local[{hi}] "
                         f"{page.wall_s:.3f}s -> scaling_eff {metrics['scaling_eff']:.3f}")
        else:
            metrics["scaling_eff"] = 1.0
    finally:
        jobs.stop_spark(spark)
    metrics.update(spark_event_metrics(log_dir))
    if set(metrics) != set(UNITS):
        raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: "
                           f"{set(metrics) ^ set(UNITS)}")

    lines += ["# per-layer metrics (name, value, should move)"]
    lines += [f"#   {k:<40} {v:>16.4f}   {MOVES[k]}" for k, v in sorted(metrics.items())]
    attempted = sum(r.attempted for r in checked)
    failed = sum(r.failed for r in checked)
    lines.append(f"# fail_ratio {failed / attempted:.4f} ({failed}/{attempted})")
    return {
        "lines": lines,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(metrics.items())},
    }


def _layer_table(name: str, spans: list[dict], rec: dict, overhead: float) -> list[str]:
    rows = common.layer_times(spans)
    out = [f"# {name} traced call: layer spans (calls, total_s, self_s)"]
    for layer, r in sorted(rows.items(), key=lambda kv: -kv[1]["total_s"]):
        out.append(f"#   {layer:<32} {r['calls']:>5} {r['total_s']:>10.3f} {r['self_s']:>10.3f}")
    verdict = "within 10%" if rec["unexplained_share"] <= 0.10 else "over 10%"
    out.append(f"# reconcile wall_s {rec['wall_s']:.3f} covered_s {rec['covered_s']:.3f} "
               f"unexplained_s {rec['unexplained_s']:.3f} ({verdict})")
    out.append(f"# tracing overhead_s {overhead:.3f} "
               "(traced wall minus the mean of the untraced calls around it)")
    return out
