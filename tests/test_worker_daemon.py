"""The worker daemon re-reads a zip archive's directory only when the
archive's file identity changes (``fabrix_spark.worker_daemon``)."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from fabrix_spark import worker_daemon

pytestmark = pytest.mark.skipif(sys.version_info >= (3, 13), reason="the daemon only patches CPython < 3.13")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding one package with one module, on ``sys.path``, with
    the daemon's ``invalidate_caches`` installed and every directory
    read of the archive counted in ``reads``."""
    pkg = f"zpkg_{uuid.uuid4().hex}"
    path = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/first.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches)
    reads = []
    stock_read = zipimport._read_directory

    def counting(p):
        if p == path:
            reads.append(p)
        return stock_read(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert importlib.import_module(f"{pkg}.first").VALUE == 1
    importlib.invalidate_caches()  # records the archive's identity
    reads.clear()
    yield path, pkg, reads
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    worker_daemon._read_identity.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, pkg, reads = archive
    importers = [v for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter) and k.startswith(path)]
    assert len(importers) == 2  # the archive root and its package
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert all(imp._files is zipimport._zip_directory_cache[path] for imp in importers)


def test_rewritten_archive_is_read_once(archive):
    path, pkg, reads = archive
    before = os.stat(path)
    with zipfile.ZipFile(path, "a") as z:
        z.writestr(f"{pkg}/second.py", "VALUE = 2\n")
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 1_000_000_000))
    after = os.stat(path)
    assert (after.st_mtime_ns, after.st_size) != (before.st_mtime_ns, before.st_size)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [path]  # once, not once per importer
    assert importlib.import_module(f"{pkg}.second").VALUE == 2


def test_deleted_archive_matches_stock(archive):
    path, pkg, reads = archive
    importer = sys.path_importer_cache[path]
    os.remove(path)
    importlib.invalidate_caches()  # no exception
    ours = (importer._files, path in zipimport._zip_directory_cache)
    worker_daemon._stock_invalidate(importer)
    assert (importer._files, path in zipimport._zip_directory_cache) == ours == ({}, False)
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f"{pkg}.second")


def test_python_workers_do_not_reread_archives(spark):
    """A kernel that imports nothing from ``fabrix_spark`` counts the
    archive directory reads of one ``importlib.invalidate_caches()``
    call inside a Python worker. PySpark's stock daemon reads 16 (every
    zip importer re-reads ``pyspark.zip``, py4j or Spark's jar)."""

    def count_reads(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        stock_read = zipimport._read_directory
        reads = []

        def counting(p):
            reads.append(p)
            return stock_read(p)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)]})

    def run():
        df = spark.range(0, 4, numPartitions=4).mapInArrow(count_reads, "reads long")
        return [r.reads for r in df.collect()]

    run()
    assert run() == [0, 0, 0, 0]
