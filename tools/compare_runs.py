"""Compare two OCR results tables url by url.

Every column is compared exactly (floats bit for bit, NaN equal to NaN)
except the ones that differ between any two runs: ``run_id`` and
``batch_elapsed_ms``. Prints a one-line verdict; exits 1 and names the first
differing url and column when the tables differ.

Usage: python tools/compare_runs.py A B
       (A, B: results directories or parquet files, e.g. the ``results``
       directory a run_with_resume job writes)
"""

from __future__ import annotations

import math
import sys

import pyarrow.parquet as pq

IGNORED = ("run_id", "batch_elapsed_ms")


def _rows_by_url(path: str) -> tuple[list[str], dict[str, dict]]:
    table = pq.read_table(path)
    cols = [c for c in table.column_names if c not in IGNORED]
    rows: dict[str, dict] = {}
    for row in table.select(cols).to_pylist():
        if row["url"] in rows:
            raise SystemExit(f"{path}: url {row['url']} appears twice")
        rows[row["url"]] = row
    return cols, rows


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return type(a) is type(b) and a == b


def first_difference(a_path: str, b_path: str) -> str | None:
    """None when the tables agree, else a description of the first
    difference in url order."""
    a_cols, a_rows = _rows_by_url(a_path)
    b_cols, b_rows = _rows_by_url(b_path)
    if a_cols != b_cols:
        return f"columns differ: {a_cols} vs {b_cols}"
    for url in sorted(a_rows.keys() | b_rows.keys()):
        if url not in b_rows or url not in a_rows:
            return f"url {url}: only in {a_path if url in a_rows else b_path}"
        for col in a_cols:
            if not _same(a_rows[url][col], b_rows[url][col]):
                return f"url {url}: column {col} differs"
    return None


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    diff = first_difference(*argv)
    if diff is not None:
        print(diff)
        return 1
    n = len(pq.read_table(argv[0], columns=["url"]))
    print(f"same: {n} urls")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
