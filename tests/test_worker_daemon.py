"""The lazy zip-cache shim of ``openseize_spark.worker_daemon`` and the
session setting that selects it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from openseize_spark import worker_daemon
from openseize_spark.session import worker_daemon_conf

MODULE = "osz_zip_probe"


def _write_archive(path, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MODULE}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding one imported module, with the shim
    installed (and the stdlib method restored afterwards)."""
    path = str(tmp_path / "probe.zip")
    _write_archive(path, 1)
    monkeypatch.syspath_prepend(path)
    monkeypatch.delitem(sys.modules, MODULE, raising=False)
    assert importlib.import_module(MODULE).VALUE == 1
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    worker_daemon.install()
    yield path
    sys.modules.pop(MODULE, None)


def _count_reads(monkeypatch, path):
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the shim is not installed on CPython >= 3.13")
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the shim is not installed on CPython >= 3.13")
def test_rewritten_archive_is_reread(archive, monkeypatch):
    reads = _count_reads(monkeypatch, archive)
    _write_archive(archive, "a longer value")
    importlib.invalidate_caches()
    assert reads == [archive]
    del sys.modules[MODULE]
    assert importlib.import_module(MODULE).VALUE == "a longer value"
    importlib.invalidate_caches()
    assert reads == [archive]


def test_stdlib_method_untouched_on_313(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the shim is not installed on CPython >= 3.13")
def test_python_tasks_run_the_shim(spark):
    def modules(batches):
        import zipimport

        import pandas as pd

        yield pd.DataFrame({"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(40).repartition(4).mapInPandas(modules, "module string").collect()
    assert {r.module for r in rows} == {"openseize_spark.worker_daemon"}


def test_daemon_conf_only_on_local_masters():
    shim = {"spark.python.daemon.module": "openseize_spark.worker_daemon"}
    assert worker_daemon_conf("local") == shim
    assert worker_daemon_conf("local[4]") == shim
    assert worker_daemon_conf("local[*]") == shim
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"):
        assert worker_daemon_conf(master) == {}
