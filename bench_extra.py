"""Extra measurement harness for the optimization round (guide §1.4: noop-sink
isolation; bench.py itself is FROZEN). Not part of the driver contract.

Usage:
  python bench_extra.py stages          # per-stage timing of heavy queries
  python bench_extra.py queries [name...]  # noop-sink timing of named queries
  python bench_extra.py explain <name>  # print .explain for one query

A 10x embeddings table (jittered replicas, same label structure) emulates the
driver's sf1.0 scale for the similarity paths; documents replicate with the
alphabet-rotation trick from bench.py --minhash-scale.
"""

from __future__ import annotations

import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def _spark():
    from tesseract_wasm_spark.session import get_spark

    return get_spark("bench-extra", cores=CPUS)


def emb10(spark):
    """10x embeddings: each vector replicated 10x with deterministic jitter so
    replicas stay inside their label cluster but are not identical."""
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    reps = e.select(
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("rep"),
        "vec_id", "embedding", "label",
    )
    jit = F.transform(
        "embedding",
        lambda x, i: x + 0.01 * F.sin((F.col("vec_id") * 131 + F.col("rep") * 17 + i).cast("double")).cast("float"),
    )
    return reps.select(
        (F.col("vec_id") * 10 + F.col("rep")).alias("vec_id"),
        jit.cast("array<float>").alias("embedding"),
        "label",
    )


def stages() -> None:
    from pyspark.sql import functions as F

    from tesseract_wasm_spark.datapipe import dedup as dd
    from tesseract_wasm_spark.datapipe import similarity as sim

    spark = _spark()
    spark.range(1000).count()
    out: dict[str, float] = {}

    for tag, emb in (("1x", spark.read.parquet(f"{SF_DIR}/embeddings.parquet")),
                     ("10x", emb10(spark))):
        emb = emb.persist()
        n = emb.count()
        sc = spark.sparkContext
        sc.setJobDescription(f"emb {tag}: signatures")
        sigs = sim.srp_multi_signatures(emb, n_bits=3, n_tables=64, seed=9,
                                        carry_cols=("label",))
        out[f"emb_{tag}_sigs"] = _noop(sigs)
        sc.setJobDescription(f"emb {tag}: candidates")
        banded = sigs.select("vec_id", "label",
                             F.posexplode("buckets").alias("table_id", "bucket"))
        cands = dd.bucket_pairs(banded, ["table_id", "bucket", "label"],
                                id_col="vec_id", max_bucket=None)
        t0 = time.monotonic()
        n_c = cands.count()
        out[f"emb_{tag}_cands"] = time.monotonic() - t0
        out[f"emb_{tag}_n_cands"] = n_c
        sc.setJobDescription(f"emb {tag}: full")
        full = sim.cosine_pairs_tiled(emb, threshold=0.25)
        t0 = time.monotonic()
        n_p = full.count()
        out[f"emb_{tag}_full"] = time.monotonic() - t0
        out[f"emb_{tag}_n_pairs"] = n_p
        out[f"emb_{tag}_n_vecs"] = n
        sc.setJobDescription(f"ann {tag}")
        topk = sim.brute_force_topk(emb, [0, 1, 2, 3, 4, 5, 6, 7], k=5)
        t0 = time.monotonic()
        topk.count()
        out[f"ann_{tag}"] = time.monotonic() - t0
        emb.unpersist()
        sc.setJobDescription(None)

    for k, v in out.items():
        print(f"{k:24s} {v if isinstance(v, int) else round(v, 3)}")
    spark.stop()


def queries(names: list[str]) -> None:
    from tesseract_wasm_spark.queries import REGISTRY

    spark = _spark()
    spark.range(1000).count()
    for name in names:
        fn, _ = REGISTRY[name]
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            fn(spark, SF_DIR).count()
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        print(f"{name:24s} {best:.3f}")
    spark.stop()


def explain(name: str) -> None:
    from tesseract_wasm_spark.queries import REGISTRY

    spark = _spark()
    fn, _ = REGISTRY[name]
    fn(spark, SF_DIR).explain("formatted")
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "stages"
    if mode == "stages":
        stages()
    elif mode == "queries":
        queries(sys.argv[2:])
    elif mode == "explain":
        explain(sys.argv[2])
