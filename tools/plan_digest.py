"""Digest the optimized logical plan and the rows of registry entries.

Prints one line per entry:

    <entry> plan=<16 hex> rows=<count> rows_hash=<16 hex>

The plan digest hashes the optimized logical plan with the ids that change
from run to run normalized: expression ids (``#N``), the lambda variables of
higher-order functions (``x_N``, ``y_N``, ``z_N``), and the name suffix of
the always-on LSH observation (``lsh_capped_buckets_N``) with the DataFrame
id its ``CollectMetrics`` node ends in. The rows hash is
check_parity's order-insensitive value hash. Two checkouts that build the
same plan and return the same rows print the same line, so a refactor can
show "same plan, same rows" by running this tool in both.

Usage: python tools/plan_digest.py ENTRY... --sf DIR
       (DIR: the registry's parquet tables, as for check_parity.py)
"""

from __future__ import annotations

import hashlib
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from check_parity import value_hash  # noqa: E402

_VOLATILE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    (re.compile(r"lsh_capped_buckets_\d+"), "lsh_capped_buckets_N"),
    (re.compile(r"^(\W*CollectMetrics .*), \d+$", re.M), r"\1, N"),
]


def normalized_plan(df) -> str:
    """The optimized logical plan of ``df`` with per-run ids normalized."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for pat, repl in _VOLATILE:
        plan = pat.sub(repl, plan)
    return plan


def digest(spark, name: str, sf_dir: str) -> tuple[str, int, str]:
    """(plan digest, row count, rows hash) of one registry entry."""
    import __spark_entry__ as entrymod  # noqa: PLC0415

    df = entrymod.queries()[name](spark, sf_dir)
    plan = hashlib.sha256(normalized_plan(df).encode()).hexdigest()[:16]
    rows = [r.asDict() for r in df.collect()]
    return plan, len(rows), value_hash(rows, df.columns)


def main(argv: list[str]) -> int:
    i = argv.index("--sf") if "--sf" in argv else len(argv)
    entries = argv[:i] + argv[i + 2:]
    if i + 1 >= len(argv) or not entries:
        print(__doc__.strip().rsplit("\n\n", 1)[-1], file=sys.stderr)
        return 2
    sf_dir = argv[i + 1]
    from tesseract_wasm_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark(cores=4)
    try:
        for name in entries:
            plan, n, rows_hash = digest(spark, name, sf_dir)
            print(f"{name} plan={plan} rows={n} rows_hash={rows_hash}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
