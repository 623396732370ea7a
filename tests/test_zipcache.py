"""Contract of ``log2ck_spark.zipcache``: ``importlib.invalidate_caches()``
re-reads a zip archive on ``sys.path`` only when the archive changed.

The Spark-free tests count calls to ``zipimport._read_directory`` for a
temp archive. The worker test counts them inside a PySpark task, where
``pyspark.zip`` sits on ``sys.path`` under many zipimporters."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import log2ck_spark  # noqa: F401  (applies the patch)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the patch is a no-op on Python >= 3.12"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)
    return str(path)


def _count_reads(monkeypatch, archive):
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return lambda: reads.count(archive)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zc_a`` on ``sys.path``, ``zc_a`` imported."""
    archive = _write_zip(tmp_path / "mods.zip", {"zc_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zc_a").A == 1
    yield archive
    for name in ("zc_a", "zc_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    reads = _count_reads(monkeypatch, zip_on_path)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads() == 0

    # The counter sees re-reads: the stdlib method re-reads on every call.
    stdlib = zipimport.zipimporter.invalidate_caches.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads() == 3


def test_changed_archive_is_reread(zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"zc_a": "A = 1\n", "zc_b": "B = 2\n"})
    reads = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    assert reads() == 1
    assert importlib.import_module("zc_b").B == 2
    importlib.invalidate_caches()
    assert reads() == 1


def test_python_worker_keeps_zip_directories(spark):
    """Inside an executor's Python worker, once the task has imported the
    package, a further ``invalidate_caches()`` reads no zip directory
    (without the patch it re-reads ``pyspark.zip`` once per zipimporter)."""

    def reads_per_invalidate(_):
        import importlib
        import zipimport

        import log2ck_spark  # noqa: F401

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield len(reads)

    sc = spark.sparkContext
    assert sc.parallelize([0], 1).mapPartitions(reads_per_invalidate).collect() == [0]
