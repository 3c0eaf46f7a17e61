"""Benchmark entry point.

    python3 perfbench/run.py --workload ocr_job --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics of BENCHMARK.json with tracing off; ``--trace 1`` makes the traced
run that prints the per-layer table, the reconciliation remainder and the
tracing overhead, and reports the per-layer metrics. Human-readable lines
come first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. All scratch files live
under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout and make the
    package and the benchmark importable in Spark's Python workers."""
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # spark-submit's launcher JVM: no /tmp/hsperfdata, temp files in WORK
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    extra = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), *extra])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))


def main(argv: list[str] | None = None) -> int:
    _prepare_env()
    import tesseract_wasm_spark  # noqa: F401, PLC0415  (fails fast without the program)

    from perfbench import common, jobs  # noqa: PLC0415

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(jobs.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    lo, hi = common.core_pair(os.cpu_count())
    workload = jobs.WORKLOADS[args.workload](WORK, args.seed)
    if args.trace:
        from perfbench import layers  # noqa: PLC0415

        report = layers.traced_run(workload, WORK, lo, hi)
    else:
        report = measure(workload, args.seconds, hi)
    # host facts last: their `java -version` must not land in setup_s
    print(f"# host {json.dumps(common.host_facts())}")
    print(f"# run workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} core_pair={lo}->{hi}")
    for line in report.pop("lines", []):
        print(line)
    print(json.dumps(report), flush=True)
    return 0


def measure(workload, seconds: float, cores: int) -> dict:
    """The untraced run: a cold set-up counted from the start of this
    process, prepare inputs, ``workload.warm_calls`` untimed calls, then
    timed calls until ``seconds`` have passed and at least
    ``workload.min_calls`` were made, so that every run on a given host
    makes the same number of calls. Reports medians."""
    from perfbench import common, jobs  # noqa: PLC0415

    spark, _ = jobs.start_session(WORK, cores)
    setup_s = common.process_start_offset()
    marks = [time.perf_counter()]
    try:
        workload.prepare(spark)
        marks.append(time.perf_counter())
        for _ in range(workload.warm_calls):
            workload.run_once(spark)
        marks.append(time.perf_counter())
        results = []
        deadline = time.perf_counter() + seconds
        while len(results) < workload.min_calls or time.perf_counter() < deadline:
            results.append(workload.run_once(spark))
        marks.append(time.perf_counter())
    finally:
        jobs.stop_spark(spark)
    marks.append(time.perf_counter())

    walls = [r.wall_s for r in results]
    rates = [r.items / r.wall_s for r in results]
    unit = "queries" if workload.name == "dedup_suite" else "pages"
    phases = dict(zip(("prepare", "warm", "timed", "stop"),
                      (round(b - a, 2) for a, b in zip(marks, marks[1:]))))
    lines = [f"# setup_s {setup_s:.3f}", f"# phases_s {json.dumps(phases)}"]
    rows = [("call", "wall_s", "cpu_s", unit, f"{unit}_per_s", "failed")]
    rows += [(f"#{i}", f"{r.wall_s:.3f}", f"{r.cpu_s:.2f}", r.items,
              f"{r.items / r.wall_s:.2f}", r.failed) for i, r in enumerate(results)]
    lines += _table_lines(f"{workload.name} timed calls", rows)
    lines.append(f"# median {unit}_per_s {common.median(rates):.3f}  "
                 f"({'suite_s' if unit == 'queries' else 'job_s'} {common.median(walls):.3f})")
    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    lines.append(f"# fail_ratio {failed / attempted:.4f} ({failed}/{attempted})")
    return {
        "lines": lines,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": end_to_end_metrics(setup_s, walls, [r.cpu_s for r in results]),
    }


def end_to_end_metrics(setup_s: float, walls: list[float], cpus: list[float]) -> dict:
    """The ``--trace 0`` metrics: the cold set-up, and the median wall time
    and JVM + Python-worker CPU time of the workload's timed call."""
    from perfbench import common  # noqa: PLC0415

    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "job_s": {"value": common.median(walls), "unit": "s"},
        "job_cpu_s": {"value": common.median(cpus), "unit": "s"},
    }


def _table_lines(title: str, rows: list[tuple]) -> list[str]:
    out = [f"# {title}"]
    for row in rows:
        out.append("#   " + "  ".join(
            f"{str(c):<44}" if i == 0 else f"{str(c):>14}" for i, c in enumerate(row)))
    return out


if __name__ == "__main__":
    sys.exit(main())
