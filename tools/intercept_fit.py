"""Fixed cost and per-page cost of one ``scale.run_with_resume`` call.

Fits wall = intercept + slope * pages from two corpus sizes timed in ONE
Spark session at local[nproc]: the intercept is what a call costs however
few pages it carries, the slope what each page adds.

Usage: python tools/intercept_fit.py

The session and the inputs come from the benchmark harness unchanged:
``perfbench.jobs.start_session`` and ``perfbench.inputs.ocr_corpus`` (seed
1903) at 256 and 1024 pages. After the harness's own ``OcrJob.warm_calls``
untimed calls per size it makes five timed calls per size, alternating the
sizes, each with the job's default partition count into an empty output
directory, and checks every page's text outside the timed call. It prints
the median wall and JVM + Python-worker CPU seconds per size and the fit of
each. Scratch files go under ``.perfbench_work/intercept_fit`` in the
checkout. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SIZES = (256, 1024)
SEED = 1903
CALLS = 5


def fit(medians: dict[int, float]) -> tuple[float, float]:
    """(intercept s, slope s/page) of the line through the two sizes."""
    (n0, y0), (n1, y1) = sorted(medians.items())
    slope = (y1 - y0) / (n1 - n0)
    return y0 - slope * n0, slope


def main(argv: list[str] | None = None) -> int:
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args(argv)

    from perfbench import run  # noqa: PLC0415

    run._prepare_env()
    from perfbench import common, inputs, jobs  # noqa: PLC0415
    from tesseract_wasm_spark import scale  # noqa: PLC0415

    work = run.WORK / "intercept_fit"
    cores = common.core_pair(os.cpu_count())[1]
    spark, _ = jobs.start_session(work, cores)
    walls: dict[int, list[float]] = {n: [] for n in SIZES}
    cpus: dict[int, list[float]] = {n: [] for n in SIZES}
    failed = 0
    try:
        truth = {}
        for n in SIZES:
            corpus = inputs.ocr_corpus(n, SEED)
            inputs.write_pages(corpus, work / f"pages-{n}.parquet")
            truth[n] = dict(zip(corpus["url"], corpus["text"]))

        def call(n: int, timed: bool) -> None:
            nonlocal failed
            pages = spark.read.parquet(str(work / f"pages-{n}.parquet"))
            out = jobs._fresh(work / "out")
            with jobs._timed(None) as clock:
                scale.run_with_resume(spark, pages, str(out))
            failed += jobs.check_pages(out / "results", truth[n])[1]
            if timed:
                walls[n].append(clock["wall_s"])
                cpus[n].append(clock["cpu_s"])

        for _ in range(jobs.OcrJob.warm_calls):
            for n in SIZES:
                call(n, timed=False)
        for _ in range(CALLS):
            for n in SIZES:
                call(n, timed=True)
    finally:
        jobs.stop_spark(spark)

    print(f"# intercept_fit local[{cores}] seed={SEED} warm={jobs.OcrJob.warm_calls} "
          f"calls={CALLS} failed={failed}")
    for n in SIZES:
        print(f"pages {n:>5}  wall_s {common.median(walls[n]):.3f}  "
              f"cpu_s {common.median(cpus[n]):.2f}  "
              f"walls {' '.join(f'{w:.3f}' for w in walls[n])}")
    for name, series in (("wall", walls), ("cpu", cpus)):
        intercept, slope = fit({n: common.median(v) for n, v in series.items()})
        print(f"{name}: intercept {intercept:.3f} s  slope {slope * 1000:.3f} ms/page")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
