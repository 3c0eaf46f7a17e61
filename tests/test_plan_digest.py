"""tools/plan_digest.py: a registry entry's plan and rows digest is stable
across calls and tells different plans apart."""

from __future__ import annotations

import importlib.util
from pathlib import Path

from test_oracle_parity import SF_DIR

_SPEC = importlib.util.spec_from_file_location(
    "plan_digest", Path(__file__).resolve().parents[1] / "tools" / "plan_digest.py")
plan_digest = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(plan_digest)


def test_digest_stable_across_calls_and_distinct_across_entries(spark):
    # dedup_simhash carries every normalized id: expression ids, lambda
    # variables and the lsh_capped_buckets_N observation
    first = plan_digest.digest(spark, "dedup_simhash", SF_DIR)
    assert plan_digest.digest(spark, "dedup_simhash", SF_DIR) == first
    assert first[1] > 0
    other = plan_digest.digest(spark, "dedup_exact", SF_DIR)
    assert other[0] != first[0] and other[2] != first[2]
