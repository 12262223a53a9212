"""Stat-checked zip-importer invalidation in the package's Python workers."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from ner_funtool_spark import _worker


@pytest.fixture()
def zip_archive(tmp_path, monkeypatch):
    """A throwaway zip on sys.path holding module ``_nfs_zip_a``, with
    the hook installed and ``zipimport._read_directory`` counted."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("_nfs_zip_a.py", "X = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _worker._stat_checked_invalidate
    )
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    for name in ("_nfs_zip_a", "_nfs_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("_nfs_zip_a")
    yield archive, reads
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    _worker._stamps.pop(archive, None)


def _reads_of(archive, reads, fn):
    start = len(reads)
    fn()
    return sum(1 for p in reads[start:] if p == archive)


def test_unchanged_archive_is_not_reread(zip_archive):
    archive, reads = zip_archive
    assert _reads_of(archive, reads, importlib.invalidate_caches) == 1  # stamps it
    assert _reads_of(archive, reads, importlib.invalidate_caches) == 0
    assert _reads_of(archive, reads, importlib.invalidate_caches) == 0
    assert sys.path_importer_cache[archive]._files is zipimport._zip_directory_cache[archive]


def test_rewritten_archive_is_reread_once(zip_archive):
    archive, reads = zip_archive
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("_nfs_zip_a.py", "X = 1\n")
        z.writestr("_nfs_zip_b.py", "Y = 2\n")
    assert _reads_of(archive, reads, importlib.invalidate_caches) == 1
    assert importlib.import_module("_nfs_zip_b").Y == 2
    assert _reads_of(archive, reads, importlib.invalidate_caches) == 0


def test_deleted_archive_matches_stock(zip_archive, tmp_path):
    archive, reads = zip_archive
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert archive not in _worker._stamps
    with pytest.raises(ImportError):
        importlib.import_module("_nfs_zip_b")
    # the stock method leaves the same state behind
    _worker._stock_invalidate(importer)
    assert importer._files == {} and archive not in zipimport._zip_directory_cache


def test_install_only_in_a_task_before_python_313(monkeypatch):
    import pyspark

    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    # driver: no TaskContext
    assert pyspark.TaskContext.get() is None
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock
    # a task on Python >= 3.13
    monkeypatch.setattr(pyspark.TaskContext, "get", classmethod(lambda cls: object()))
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock
    # a task on Python < 3.13, twice
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    assert _worker.install() is True
    assert _worker.install() is True
    assert zipimport.zipimporter.invalidate_caches is _worker._stat_checked_invalidate


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads zips lazily")
def test_spark_workers_skip_the_zip_reread(spark):
    import pyarrow as pa

    def probe(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        import ner_funtool_spark  # noqa: F401  (what any package stage imports)

        for _ in batches:
            pass
        il.invalidate_caches()  # stamps archives first seen by this worker
        calls = []
        stock_read = zi._read_directory

        def counting(path):
            calls.append(path)
            return stock_read(path)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = stock_read
        n_zip = sum(isinstance(v, zi.zipimporter) for v in s.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({"reads": [len(calls)], "zip_importers": [n_zip]})

    df = spark.range(4, numPartitions=2).mapInArrow(probe, "reads long, zip_importers long")
    df.collect()  # warms (and reuses) the workers
    rows = df.collect()
    assert len(rows) == 2
    assert all(r.zip_importers > 0 for r in rows), rows  # the check has zips to skip
    assert all(r.reads == 0 for r in rows), rows
