"""session.ship_package: ships the package zip once per context and lets
every failure other than "already shipped" raise."""

from __future__ import annotations

import pytest

from tesseract_wasm_spark.session import ship_package


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
