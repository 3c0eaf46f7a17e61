"""Spark sessions and the two workloads, each driven through the package's
public entry points exactly as a user runs them.

Every workload has the same shape: ``prepare`` builds the seeded inputs
outside timing and ``run_once`` times one call of the job and then checks
its output (the check is outside the timed call). The harness makes
``warm_calls`` untimed ``run_once`` calls first, so JIT compilation, code
generation and the workers' engine set-up are paid before anything is timed.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.common import Tracer, descendants_cpu_seconds, descendants_rss_bytes

#: Pages per timed call. Sized so one call at local[nproc] takes a few
#: seconds here, long enough that the results write and the OCR map both
#: carry real weight, short enough that a run repeats it within its time.
OCR_PAGES = 256


def start_session(work: Path, cores: int, event_log_dir: Path | None = None):
    """A SparkSession from ``session.get_spark`` with every scratch path
    inside ``work``, plus one tiny Python job so the workers are forked and
    have imported the engine. Returns (spark, seconds)."""
    from tesseract_wasm_spark.session import get_spark  # noqa: PLC0415

    t0 = time.perf_counter()
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir.as_uri()
        # one plain JSON-lines file per application, readable without codecs
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")

    def warm(batches):
        import tesseract_wasm_spark.engine.page  # noqa: F401, PLC0415

        yield from batches

    spark.range(cores * 4, numPartitions=cores).mapInPandas(warm, "id long").count()
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process it forked have exited."""
    from pyspark import SparkContext  # noqa: PLC0415

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants_rss_bytes(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


@contextlib.contextmanager
def _timed(tracer: Tracer | None):
    """Wall time and the JVM + workers' CPU time of one call; under tracing
    also the span that roots the call's layer spans."""
    clock: dict[str, float] = {}
    cpu0 = descendants_cpu_seconds(os.getpid())
    with tracer.span("job") if tracer is not None else contextlib.nullcontext():
        t0 = time.perf_counter()
        yield clock
        clock["wall_s"] = time.perf_counter() - t0
    clock["cpu_s"] = descendants_cpu_seconds(os.getpid()) - cpu0


def _fresh(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    return path


def check_pages(table_dir: Path, truth: dict[str, str]) -> tuple[int, int]:
    """(attempted, failed) over the urls in ``truth``: a page fails unless
    its url appears exactly once in the table, with no error and the
    generator's text. A row whose url is not in ``truth`` is one more
    attempted and failed page."""
    table = pq.read_table(table_dir, columns=["url", "page_text", "error"]).to_pydict()
    rows: dict[str, list] = {}
    for url, text, err in zip(table["url"], table["page_text"], table["error"]):
        rows.setdefault(url, []).append((text, err))
    bad = sum(1 for url, want in truth.items() if rows.get(url) != [(want, None)])
    unknown = sum(len(v) for url, v in rows.items() if url not in truth)
    return len(truth) + unknown, bad + unknown


def dir_stats(path: Path) -> tuple[int, int]:
    """(data files, bytes) written under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


@dataclass
class Result:
    wall_s: float
    cpu_s: float
    items: int
    attempted: int
    failed: int
    extra: dict = field(default_factory=dict)


class OcrJob:
    """``scale.run_with_resume`` into an empty output dir: OCR with
    orientation, the url_bucket-partitioned results write, the metrics
    table. The production OCR job (``jobs/extract_job.py --mode ocr``)."""

    name = "ocr_job"
    #: JIT compilation in the JVM falls from about 17 to 10, 7 and then 2-3
    #: CPU-seconds per call over the first four calls on a 4-vCPU host, and
    #: the call's wall with it. After two warm-up calls the first timed call
    #: is still on that slope and the median of three lands on the plateau.
    warm_calls = 2
    min_calls = 3

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed
        self.dir = work / "inputs" / f"ocr-{seed}"
        self.out = work / "out" / "ocr"

    def prepare(self, spark) -> None:
        corpus = inputs.ocr_corpus(OCR_PAGES, self.seed)
        inputs.write_pages(corpus, self.dir / "pages.parquet")
        self.truth = dict(zip(corpus["url"], corpus["text"]))

    def run_once(self, spark, tracer: Tracer | None = None) -> Result:
        from tesseract_wasm_spark import scale  # noqa: PLC0415

        pages = spark.read.parquet(str(self.dir / "pages.parquet"))
        out = _fresh(self.out)
        with _timed(tracer) as clock:
            summary = scale.run_with_resume(spark, pages, str(out))
        attempted, failed = check_pages(self.result_table(), self.truth)
        return Result(clock["wall_s"], clock["cpu_s"], summary["pages"], attempted, failed)

    def result_table(self) -> Path:
        return self.out / "results"


class DedupSuite:
    """The five heavy dedup/similarity queries of ``queries.REGISTRY`` over
    the committed documents/embeddings tables, rows permuted by the seed.
    Spark shuffles, joins and ``applyInPandas`` kernels; no OCR engine."""

    name = "dedup_suite"
    #: The JVM is still JIT-compiling through the first passes after the
    #: warm-up (about 15, 10, 6 CPU-seconds of compilation in passes 1-3 on
    #: a 4-vCPU host), so one pass lands on a steep, jittery part of that
    #: curve; the median over four passes is what steadies job_s. A pass
    #: costs about 10 s there, too much to add warm-up passes to every run.
    warm_calls = 1
    min_calls = 4

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed
        self.dir = work / "inputs" / f"dedup-{seed}"

    def prepare(self, spark) -> None:
        inputs.write_dedup_tables(self.seed, self.dir)
        self.oracle = inputs.dedup_oracle(self.work / "cache")

    def check(self, outputs) -> int:
        failed = 0
        for name, (rows, cols) in outputs.items():
            want = self.oracle[name]
            got = [r.asDict() for r in rows]
            if (len(got) != want["rows"] or sorted(cols) != want["cols"]
                    or inputs.hash_rows(got, cols) != want["hash"]):
                failed += 1
        return failed

    def run_once(self, spark, tracer: Tracer | None = None) -> Result:
        """One pass over the five queries, each collected to the Spark driver."""
        from tesseract_wasm_spark import queries  # noqa: PLC0415

        outputs = {}
        with _timed(tracer) as clock:
            for name in inputs.DEDUP_QUERIES:
                fn = queries.REGISTRY[name][0]
                with tracer.span(f"query.{name}") if tracer else contextlib.nullcontext():
                    df = fn(spark, str(self.dir))
                    outputs[name] = (df.collect(), df.columns)
        return Result(clock["wall_s"], clock["cpu_s"], len(outputs), len(outputs),
                      self.check(outputs), {"outputs": outputs})


WORKLOADS = {cls.name: cls for cls in (OcrJob, DedupSuite)}
