"""Unit tests of the benchmark's own arithmetic and contracts; no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import common, inputs, jobs, layers  # noqa: E402
from perfbench.run import end_to_end_metrics  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
BENCH_LAYERS = [m["name"] for m in BENCH["per_layer"]]


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "run_id": "t"}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "job", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),  # overlaps a: the union 1..6 is covered once
        _span(3, "c", 8.0, 12.0, 0),  # runs past its parent: clipped at 10
        _span(4, "a.child", 1.5, 2.5, 1),  # grandchild: not subtracted from job
    ]
    assert common.self_time(spans[0], spans) == pytest.approx(10.0 - 5.0 - 2.0)
    assert common.self_time(spans[1], spans) == pytest.approx(3.0 - 1.0)
    times = common.layer_times(spans)
    assert times["a"] == {"total_s": pytest.approx(3.0), "self_s": pytest.approx(2.0), "calls": 1}


def test_reconcile_reports_uncovered_wall():
    spans = [_span(0, "job", 0.0, 10.0), _span(1, "w", 0.5, 9.5, 0)]
    rec = common.reconcile(spans[0], spans)
    assert rec["unexplained_s"] == pytest.approx(1.0)
    assert rec["unexplained_share"] == pytest.approx(0.1)
    assert rec["covered_s"] == pytest.approx(9.0)


def test_tracer_patch_records_nesting_and_restores():
    class Box:
        @staticmethod
        def outer(x):
            return Box.inner(x) + 1

        @staticmethod
        def inner(x):
            return x * 2

    originals = (Box.outer, Box.inner)
    tracer = common.Tracer()
    tracer.patch(Box, "outer", "L.outer")
    tracer.patch(Box, "inner", "L.inner")
    try:
        assert Box.outer(3) == 7
    finally:
        tracer.restore()
    assert (Box.outer, Box.inner) == originals
    by_name = {s["name"]: s for s in tracer.spans}
    assert by_name["L.inner"]["parent"] == by_name["L.outer"]["id"]
    assert tracer.counts == {"L.outer": 1, "L.inner": 1}


def test_scaling_eff_and_core_pair():
    assert common.core_pair(4) == (1, 4)
    assert common.core_pair(32) == (8, 32)
    assert common.core_pair(1) == (1, 1)
    # 4x the cores at 2x the throughput is half-efficient
    assert common.scaling_eff(200.0, 100.0, 4, 1) == pytest.approx(0.5)
    assert common.scaling_eff(400.0, 100.0, 32, 8) == pytest.approx(1.0)


def test_end_to_end_names_and_units_match_benchmark_json():
    got = end_to_end_metrics(2.0, [5.0, 7.0], [9.0, 8.0, 30.0])
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["setup_s"]["value"] == 2.0 and got["job_s"]["value"] == 6.0
    assert got["job_cpu_s"]["value"] == 9.0


def test_per_layer_names_match_benchmark_json():
    # traced_run reports exactly the UNITS names and prints MOVES beside each
    assert list(layers.UNITS) == BENCH_LAYERS
    assert set(layers.MOVES) == set(BENCH_LAYERS)


def test_benchmark_json_workloads_are_harness_workloads():
    assert {w["name"] for w in BENCH["workloads"]} == set(jobs.WORKLOADS)


def test_page_line_counts_fix_total_work_across_seeds():
    a, b = inputs.page_line_counts(64, 1), inputs.page_line_counts(64, 2)
    assert a != b and sorted(a) == sorted(b)
    assert sum(c >= 40 for c in a) == 64 // 8


def test_check_pages_counts_missing_duplicate_wrong_and_error(tmp_path):
    truth = {"u1": "a\n", "u2": "b\n", "u3": "c\n", "u4": "d\n", "u5": "e\n"}
    rows = pd.DataFrame({
        "url": ["u1", "u2", "u2", "u3", "u4", "zz"],
        "page_text": ["a\n", "b\n", "b\n", "wrong\n", "d\n", "x"],
        "error": [None, None, None, None, "decode failed", None],
    })
    pq.write_table(pa.Table.from_pandas(rows, preserve_index=False), tmp_path / "p.parquet")
    attempted, failed = jobs.check_pages(tmp_path, truth)
    # u2 duplicated, u3 wrong text, u4 error row, u5 missing, zz unknown url
    assert (attempted, failed) == (6, 5)


def test_engine_stages_cover_every_stage_in_process():
    corpus = inputs.ocr_corpus(8, seed=3)
    out = layers.engine_stages(list(corpus["html"]))
    stage_names = [n for n in BENCH_LAYERS if n.startswith(("engine.", "drf"))]
    assert set(stage_names) <= set(out)
    assert out["engine.page"] > out["engine.orientation"] > 0
    assert out["engine.components.calls_per_page"] >= 1.0
    covered = sum(out[n] for n in ("drf", "engine.otsu", "engine.components", "engine.deskew",
                                   "engine.segment", "engine.orientation", "engine.recognize",
                                   "engine.page.self_ms"))
    assert covered == pytest.approx(out["engine.page"], rel=1e-6)


def test_spark_event_metrics_filters_by_job_group(tmp_path):
    def task(stage, run_ms, dur):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": dur},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 2e9,
                                 "JVM GC Time": 100, "Memory Bytes Spilled": 0,
                                 "Disk Bytes Spilled": 5,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": layers.JOB_GROUP}},
        task(0, 9999, 9999),
        task(1, 1000, 100), task(1, 1000, 100), task(1, 1000, 400),
        task(2, 500, 50),
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    m = layers.spark_event_metrics(tmp_path)
    assert m["spark.task_count"] == 4
    assert m["spark.executor_run_s"] == pytest.approx(3.5)
    assert m["spark.executor_cpu_s"] == pytest.approx(8.0)
    assert m["spark.spill_bytes"] == 20 and m["spark.shuffle_write_bytes"] == 40
    assert m["pipeline.task_skew"] == pytest.approx(4.0)  # stage 1: 400 / median 100
