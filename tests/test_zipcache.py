"""The stat-keyed zipimporter re-read installed in PySpark workers
(flink_siddhi_spark/_zipcache.py)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from flink_siddhi_spark import _zipcache


def _write_zip(path, files):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    # a new file (new inode), as an archive is replaced on disk
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = tmp_path / "zc_mods.zip"
    _write_zip(path, {"zc_pkg/__init__.py": "", "zc_pkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in [m for m in sys.modules if m.startswith("zc_pkg")]:
        del sys.modules[name]
    zipimport._zip_directory_cache.pop(str(path), None)
    _zipcache._read_at.pop(str(path), None)


@pytest.fixture
def read_counter(monkeypatch):
    """Count re-parses of an archive's central directory."""
    calls = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reparsed(zip_on_path, read_counter, monkeypatch):
    importlib.import_module("zc_pkg.a")  # a second zipimporter, for zc_pkg/
    archive = str(zip_on_path)
    importers = [v for v in sys.path_importer_cache.values()
                 if isinstance(v, zipimport.zipimporter) and v.archive == archive]
    assert len(importers) == 2

    read_counter.clear()
    importlib.invalidate_caches()  # stock: every importer re-parses
    assert read_counter.count(archive) == 2

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _zipcache.invalidate_caches)
    read_counter.clear()
    importlib.invalidate_caches()  # first call takes the stamp: one read
    assert read_counter.count(archive) == 1
    read_counter.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert read_counter.count(archive) == 0


def test_changed_archive_is_reread(zip_on_path, read_counter, monkeypatch):
    importlib.import_module("zc_pkg.a")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _zipcache.invalidate_caches)
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_pkg.b")

    _write_zip(zip_on_path, {"zc_pkg/__init__.py": "", "zc_pkg/a.py": "X = 1\n",
                             "zc_pkg/b.py": "Y = 2\n"})
    read_counter.clear()
    importlib.invalidate_caches()
    assert read_counter.count(str(zip_on_path)) == 1  # once, shared by both
    assert importlib.import_module("zc_pkg.b").Y == 2


@pytest.fixture
def stock_restored(monkeypatch):
    """Let install() patch zipimporter; put the stock method back after."""
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _zipcache._stock_invalidate)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    return monkeypatch


def test_install_in_worker_is_idempotent(stock_restored):
    assert _zipcache.install()
    assert _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache.invalidate_caches
    assert _zipcache._stock_invalidate.__module__ == "zipimport"


def test_not_installed_on_python_312(stock_restored):
    stock_restored.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert not _zipcache.install()
    assert not _zipcache.installed()


def test_not_installed_in_driver(stock_restored):
    from pyspark.core.files import SparkFiles

    stock_restored.setattr(SparkFiles, "_is_running_on_worker", False)
    assert not _zipcache.install()
    assert not _zipcache.installed()


def test_worker_keeps_backport_after_engine_stage(spark):
    """A stage that runs an engine operator installs the backport in its
    workers, and a later task reusing such a worker still has it; the
    driver keeps the stock method."""
    if sys.version_info >= (3, 12):
        pytest.skip("the backport is a no-op on Python >= 3.12")
    from flink_siddhi_spark import SiddhiCEP

    rows = [(i % 3, "e", float(i), 1000 * i) for i in range(12)]
    events = spark.createDataFrame(
        rows, "id int, name string, price double, timestamp long")
    cep = SiddhiCEP(spark)
    cep.define("s", events, "id", "name", "price", "timestamp",
               ts_field="timestamp")
    # a quantified pattern runs the engine's pattern operator in Python
    out = cep.from_("s").cql(
        "from every a = s[id == 1]<2:3> -> b = s[id == 2] "
        "select b.timestamp as tb insert into Out"
    ).returns("Out")
    assert "InPandas" in out._jdf.queryExecution().executedPlan().toString()
    assert len(out.collect()) == 3

    def report(batches):  # pickled by value: does not import the engine
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame(
                {"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = spark.range(1, numPartitions=1).mapInPandas(report, "module string").collect()
    assert [r.module for r in got] == ["flink_siddhi_spark._zipcache"]
    assert not _zipcache.installed()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._stock_invalidate
