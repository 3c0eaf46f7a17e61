"""SparkSession factory with the engine's scale-oriented defaults.

Maps the reference's execution-environment setup (worker creation + WASM
instantiation — reference: src/ocr-client.ts:66-114, src/ocr-engine.ts:383-401)
to SparkSession construction. Arrow settings mirror the reference's
peak-memory discipline (bounded WASM heap, staging buffers freed eagerly —
reference: Makefile:161-173, src/ocr-engine.ts:186-203): page payloads are
megabytes each, so Arrow batches are kept small to bound executor memory.

The reference creates its engine worker once and reuses it; Spark reuses
Python workers too (``spark.python.worker.reuse=true``, the default), but
on CPython < 3.13 a reused worker still pays a start-up cost on EVERY task:
PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
per task, and there ``zipimporter.invalidate_caches`` re-parses the whole
central directory of its archive — about fifteen importers over
``pyspark.zip`` and the spark-core jar that the JVM puts on every worker's
``sys.path``, ~0.1-0.35 s per task. ``install_zip_cache_check`` (run by the
package import, so inside every worker that unpickles a package UDF) makes
that re-read conditional on the archive's stat stamp, the same mtime check
``FileFinder`` already applies to directories. Without worker reuse every
task is a fresh process and the install buys nothing. CPython 3.13 made
the method a cheap cache drop, so there it is a no-op, and the function
can go once 3.13 is the floor.
"""

from __future__ import annotations

import os
import sys

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
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
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
        # compile each generated class once per JVM, as the reference builds
        # its engine once per worker. Spark's JVM-wide cache of Janino
        # classes (whole-stage code, projections, orderings, predicates)
        # holds 100 by default, split over 4 Guava segments of 25. One pass
        # of the five benchmarked dedup queries needs 93+ classes and the
        # 68-entry registry 566, so a repeated query compiled (and the JIT
        # compiled) every class again. 1000 leaves room for the OCR and
        # streaming plans sharing the JVM. Static: a session not built here
        # must set it at launch (README, generated-class cache).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
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


def install_zip_cache_check() -> None:
    """Inside a Spark Python worker on CPython < 3.13, make
    ``zipimporter.invalidate_caches`` re-read its archive only when the
    archive's ``(st_mtime_ns, st_size, st_ino)`` stamp changed since this
    importer last read it. A zip rewritten between tasks changes the stamp
    and a newly added one gets a fresh importer, so per-task invalidation
    keeps its meaning. Elsewhere
    (the driver, CPython >= 3.13) and on a second call it does nothing."""
    if sys.version_info >= (3, 13):
        return
    import zipimport  # noqa: PLC0415

    from pyspark import TaskContext  # noqa: PLC0415

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False) or TaskContext.get() is None:
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None  # gone or unreadable: let the original decide
        if stamp is None or stamp != self.__dict__.get("_stat_stamp"):
            reread(self)
            self._stat_stamp = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
