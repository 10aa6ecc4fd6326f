"""The lazy zipimporter.invalidate_caches installed by the package (Spark-free).

A PySpark worker calls importlib.invalidate_caches() before every task; on
Python <= 3.12 that re-parses every zip archive on sys.path unless the
archive changed (session._lazy_zip_invalidate)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from duckdb_routing_spark import session


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lazyzip_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    stdlib_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stdlib_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, reads
    for name in ("lazyzip_a", "lazyzip_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib zipimport is already lazy")
def test_package_import_installs_the_lazy_method():
    assert zipimport.zipimporter.invalidate_caches is session._lazy_zip_invalidate


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib zipimport is already lazy")
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("lazyzip_a").VALUE == "a"
    importlib.invalidate_caches()  # first sight of the archive records its stamp
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert archive not in reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib zipimport is already lazy")
def test_rewritten_archive_is_reread(zip_on_path):
    archive, _ = zip_on_path
    importlib.import_module("lazyzip_a")
    importlib.invalidate_caches()
    _write_zip(archive, {"lazyzip_a": "VALUE = 'a'\n", "lazyzip_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("lazyzip_b").VALUE == "b"


def test_deleted_archive_does_not_raise(zip_on_path):
    archive, _ = zip_on_path
    importlib.import_module("lazyzip_a")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("lazyzip_b")


def test_python_313_keeps_the_stdlib_method(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", session._STDLIB_ZIP_INVALIDATE)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    session._install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is session._STDLIB_ZIP_INVALIDATE
