"""session.ship_package: ships the package zip once per context and lets
every failure other than "already shipped" raise.
session.install_zip_cache_check: inside a Spark Python worker, zip importers
re-read their archive on invalidate_caches only when its stat stamp moved.
session.get_spark: local mode runs one task slot per CPU unless told
otherwise, and a repeated query reuses its generated classes."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from perfbench import inputs
from tesseract_wasm_spark import queries, session
from tesseract_wasm_spark.session import install_zip_cache_check, ship_package
from test_oracle_parity import SF_DIR

needs_eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 no longer re-reads the archive on invalidate_caches",
)


class _FakeContext:
    """Quacks like a SparkContext for ship_package: listFiles + addPyFile."""

    def __init__(self, files=(), error=None):
        self.listFiles = list(files)
        self.added: list[str] = []
        self._error = error

    def addPyFile(self, path):
        if self._error is not None:
            raise self._error
        self.added.append(path)
        self.listFiles.append(f"file:{path}")


class _FakeSession:
    def __init__(self, sc):
        self.sparkContext = sc


def test_ship_package_adds_the_zip_once(spark):
    ship_package(spark)
    ship_package(spark)
    names = [f.rsplit("/", 1)[-1] for f in spark.sparkContext.listFiles]
    assert len([n for n in names if n.startswith("twspark_pyfiles_")]) == 1


def test_ship_package_skips_an_already_shipped_zip():
    sc = _FakeContext()
    ship_package(_FakeSession(sc))
    assert len(sc.added) == 1 and sc.added[0].endswith(".zip")
    again = _FakeContext(files=[f"file:{sc.added[0]}"])
    ship_package(_FakeSession(again))
    assert again.added == []


def test_ship_package_raises_other_failures():
    sc = _FakeContext(error=RuntimeError("cannot reach the cluster"))
    with pytest.raises(RuntimeError, match="cannot reach the cluster"):
        ship_package(_FakeSession(sc))


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


@pytest.fixture
def zip_reads(monkeypatch):
    """Counts zipimport._read_directory calls; puts the class attribute
    back after the test whatever the install did to it."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def in_task(monkeypatch):
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))


@needs_eager_reread
def test_zip_cache_check_rereads_only_a_changed_archive(tmp_path, zip_reads, in_task):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["twzc_first"])
    importer = zipimport.zipimporter(archive)
    install_zip_cache_check()
    importer.invalidate_caches()  # first call: no stamp yet, reads once
    zip_reads.clear()
    for _ in range(3):
        importer.invalidate_caches()
    assert zip_reads == []

    _write_zip(archive, ["twzc_first", "twzc_added"])
    importer.invalidate_caches()
    assert zip_reads == [archive]
    assert importer.find_spec("twzc_added") is not None
    zip_reads.clear()
    importer.invalidate_caches()
    assert zip_reads == []


@needs_eager_reread
def test_zip_cache_check_installs_once(zip_reads, in_task):
    install_zip_cache_check()
    installed = zipimport.zipimporter.invalidate_caches
    install_zip_cache_check()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert installed.stat_checked


def test_zip_cache_check_leaves_the_driver_alone(tmp_path, zip_reads, monkeypatch):
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: None))
    original = zipimport.zipimporter.invalidate_caches
    install_zip_cache_check()
    assert zipimport.zipimporter.invalidate_caches is original
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["twzc_driver"])
    importer = zipimport.zipimporter(archive)
    zip_reads.clear()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(zip_reads) == (2 if sys.version_info < (3, 13) else 0)


@needs_eager_reread
def test_workers_stat_check_and_still_see_a_new_py_file(spark, tmp_path):
    """A package UDF installs the check in every worker it runs on; a zip
    added with addPyFile after those workers are warm imports in the next
    task — the property PySpark's per-task invalidation exists for."""
    from tesseract_wasm_spark import session  # noqa: PLC0415

    sc = spark.sparkContext
    n = sc.defaultParallelism
    installer = session.install_zip_cache_check

    def report(_):
        # referencing a package function makes unpickling import the package
        yield (installer.__name__, os.getpid(),
               getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False))

    # idle workers are handed out first-in first-out, so 4n tasks cycle
    # through every worker the earlier tests left in the pool
    warm = sc.parallelize(range(4 * n), 4 * n).mapPartitions(report).collect()
    assert warm and all(checked for _name, _pid, checked in warm)

    name = f"twzc_late_{os.getpid()}"
    archive = str(tmp_path / f"{name}.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 42\n")
    sc.addPyFile(archive)

    def late(_):
        checked = getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)
        yield os.getpid(), checked, importlib.import_module(name).VALUE

    rows = sc.parallelize(range(n), n).mapPartitions(late).collect()
    assert rows and all(checked and value == 42 for _pid, checked, value in rows)


def test_repeated_queries_compile_nothing(spark):
    """The codegen cache holds every class the five benchmarked dedup and
    similarity queries generate, so repeating them compiles nothing. With
    Spark's default bound of 100 every pass evicts its own classes and
    compiles about 110 of them again; a Spark that drops or renames the
    conf fails here the same way. ``dedup_minhash``'s generated code varies
    from run to run (a first pass compiled 37 or 40 of its classes, and a
    repeated pass sometimes 4 or 7 new ones); each variant compiles once,
    so the passes are repeated until one compiles nothing."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass():
        before = compiles.getCount()
        for name in inputs.DEDUP_QUERIES:
            assert queries.REGISTRY[name][0](spark, SF_DIR).collect()
        return compiles.getCount() - before

    one_pass()
    repeated = [one_pass()]
    while repeated[-1] and len(repeated) < 5:
        repeated.append(one_pass())
    assert repeated[-1] == 0, repeated


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records the master URL and starts
    no JVM."""

    master_url = None

    def master(self, url):
        _RecordingBuilder.master_url = url
        return self

    def __getattr__(self, name):  # appName, config, getOrCreate
        return lambda *args, **kwargs: self


@pytest.mark.parametrize("env, want", [(None, "local[3]"), ("5", "local[5]")])
def test_get_spark_defaults_to_the_cpu_count(monkeypatch, env, want):
    class FakeSparkSession:
        builder = _RecordingBuilder()

    monkeypatch.setattr(session, "SparkSession", FakeSparkSession)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    session.get_spark()
    assert _RecordingBuilder.master_url == want
    session.get_spark(cores=2)
    assert _RecordingBuilder.master_url == "local[2]"
