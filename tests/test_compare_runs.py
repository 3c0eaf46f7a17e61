"""tools/compare_runs.py: url-by-url equality of two results tables."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

_SPEC = importlib.util.spec_from_file_location(
    "compare_runs", Path(__file__).resolve().parents[1] / "tools" / "compare_runs.py")
compare_runs = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(compare_runs)


def _table(**overrides) -> pa.Table:
    cols = {
        "url": ["u/1", "u/0"],
        "rotation": [0, 90],
        "skew_degrees": [0.5, float("nan")],
        "words": [[{"text": "a", "confidence": 1.0}], []],
        "run_id": ["r1", "r1"],
        "batch_elapsed_ms": [3.0, 4.0],
    }
    cols.update(overrides)
    return pa.table(cols)


def _write(tmp_path: Path, name: str, table: pa.Table) -> str:
    path = tmp_path / name
    path.mkdir()
    pq.write_table(table, path / "part-00000.parquet")
    return str(path)


def test_same_tables_ignore_run_columns(tmp_path, capsys):
    a = _write(tmp_path, "a", _table())
    # rows in another order, another run id and other batch timings
    b = _write(tmp_path, "b", _table().take([1, 0]).set_column(
        4, "run_id", pa.array(["r2", "r2"])).set_column(
        5, "batch_elapsed_ms", pa.array([9.0, 9.0])))
    assert compare_runs.main([a, b]) == 0
    assert "same: 2 urls" in capsys.readouterr().out


@pytest.mark.parametrize("column, value, message", [
    ("rotation", [0, 270], "url u/0: column rotation differs"),
    ("skew_degrees", [0.5, 0.0], "url u/0: column skew_degrees differs"),
    ("words", [[{"text": "a", "confidence": 0.9}], []], "url u/1: column words differs"),
    ("url", ["u/1", "u/2"], "url u/0: only in"),
])
def test_first_difference_is_named(tmp_path, capsys, column, value, message):
    a = _write(tmp_path, "a", _table())
    b = _write(tmp_path, "b", _table(**{column: value}))
    assert compare_runs.main([a, b]) == 1
    assert message in capsys.readouterr().out


def test_column_sets_must_match(tmp_path):
    a = _write(tmp_path, "a", _table())
    b = _write(tmp_path, "b", _table().drop(["rotation"]))
    assert compare_runs.first_difference(a, b).startswith("columns differ")
