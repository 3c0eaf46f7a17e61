"""Local emulation of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet tables;
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_parity.py [sf_dir] [only_name ...]
"""

from __future__ import annotations

import hashlib
import sys

from pathlib import Path

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows, cols) -> str:
    cols_sorted = sorted(cols)
    canon = sorted(
        "|".join(_norm(row[c]) for c in cols_sorted) for row in rows
    )
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def _norm(v) -> str:
    import datetime as dt
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entrymod
    from tesseract_wasm_spark.session import get_spark

    spark = get_spark(cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sdf.columns
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows")
            continue
        try:
            ddf = con.execute(oracles[name])
            dcols = [d[0] for d in ddf.description]
            drows = [dict(zip(dcols, row)) for row in ddf.fetchall()]
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            failures += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        elif value_hash(srows, scols) != value_hash(drows, dcols):
            problems.append("value hash mismatch")
            # show a sample diff
            sset = {tuple(_norm(r[c]) for c in sorted(scols)) for r in srows}
            dset = {tuple(_norm(r[c]) for c in sorted(dcols)) for r in drows}
            for x in list(sset - dset)[:3]:
                problems.append(f"  spark-only: {x}")
            for x in list(dset - sset)[:3]:
                problems.append(f"  duck-only:  {x}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"OK   {name}: {len(srows)} rows, hash match")
    spark.stop()
    # one unambiguous summary line — survives any tail/grep truncation
    print(f"SUMMARY: {checked - failures}/{checked} green, {failures} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
