"""SparkSession factory with the engine's scale-oriented defaults.

Maps the reference's execution-environment setup (worker creation + WASM
instantiation — reference: src/ocr-client.ts:66-114, src/ocr-engine.ts:383-401)
to SparkSession construction. Arrow settings mirror the reference's
peak-memory discipline (bounded WASM heap, staging buffers freed eagerly —
reference: Makefile:161-173, src/ocr-engine.ts:186-203): page payloads are
megabytes each, so Arrow batches are kept small to bound executor memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: One BLAS thread per Python worker: Spark provides the process-level
#: parallelism; letting OpenBLAS also fan out oversubscribes cores ~32x and
#: *destroys* scaling (measured: 32 concurrent workers ran 1.8x slower per
#: task than 8). Same rule as any multi-executor numpy deployment.
_BLAS_PIN = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}


def get_spark(
    app_name: str = "tesseract-wasm-spark",
    *,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    for k, v in _BLAS_PIN.items():
        os.environ.setdefault(k, v)  # local mode: python workers inherit this
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(32, cores)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # decode() must be TOTAL over arbitrary crawl bytes: replacement
        # (java.nio REPLACE, U+FFFD) instead of MALFORMED_CHARACTER_CODING
        # throws — one undecodable payload cannot kill a 10^12-row job
        .config("spark.sql.legacy.codingErrorAction", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # page payloads are large binaries: small Arrow batches bound memory
        # (O6 in SURVEY.md §4 — the reference caps its heap at 1 GB)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # propagate the BLAS pin to executor-spawned python workers on a
        # real cluster (harmless duplicate of the env in local mode)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ship_package(spark: SparkSession) -> None:
    """Make tesseract_wasm_spark importable inside executor Python workers
    regardless of the driver's cwd: zip the package and addPyFile it (the
    programmatic form of ``spark-submit --py-files``). The zip name is
    content-addressed (sha256 of the sources) so a stale cached zip can
    never shadow newer code on reused workers. Idempotent: a zip of that
    name already added to this context is not added again (Spark refuses a
    second same-named file with other bytes). Any other failure raises
    here, not later inside tasks as ``ModuleNotFoundError``. On a real
    cluster where --py-files already shipped the package this is a
    duplicate upload of a few hundred KB."""
    import hashlib  # noqa: PLC0415
    import zipfile  # noqa: PLC0415

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(pkg_root, "tesseract_wasm_spark")
    sources = []
    for root, _dirs, files in os.walk(pkg):
        for name in sorted(files):
            if name.endswith(".py"):
                sources.append(os.path.join(root, name))
    digest = hashlib.sha256()
    for full in sorted(sources):
        digest.update(full.encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zip_name = f"twspark_pyfiles_{digest.hexdigest()[:16]}.zip"
    sc = spark.sparkContext
    if any(f.rsplit("/", 1)[-1] == zip_name for f in sc.listFiles):
        return  # already shipped to this context
    zip_path = f"/tmp/{zip_name}"
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for full in sorted(sources):
                zf.write(full, os.path.relpath(full, pkg_root))
    sc.addPyFile(zip_path)
