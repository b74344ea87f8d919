"""The stat-checked ``zipimporter.invalidate_caches`` installed in PySpark
workers (``session.install_worker_zip_cache``): an unchanged archive is not
re-read, a changed, replaced or deleted one gets the stock result, and the
driver is never patched."""

import importlib
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest

from recsplit_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "_rs_zipcache_mod"

needs_patchable_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 invalidates lazily")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def worker_zip(tmp_path, monkeypatch):
    """A zip of module ``<PKG>1`` on sys.path with the worker method
    installed as if in a PySpark worker; ``reads`` counts directory reads of
    that archive. The stock method and every cache are restored after."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, [PKG + "1"])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(session, "_zip_stamps", {})
    monkeypatch.setattr(session, "_stock_zip_invalidate", None)
    monkeypatch.setitem(sys.modules, "pyspark.worker",
                        types.ModuleType("pyspark.worker"))
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(path)
    try:
        importlib.import_module(PKG + "1")
        session.install_worker_zip_cache()
        reads.clear()
        yield types.SimpleNamespace(path=path, reads=reads,
                                    importer=sys.path_importer_cache[path])
    finally:
        for name in (PKG + "1", PKG + "2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)


@needs_patchable_zipimport
def test_unchanged_archive_is_not_reread(worker_zip):
    assert (zipimport.zipimporter.invalidate_caches
            is session._stat_checked_invalidate_caches)
    importlib.invalidate_caches()  # first pass per archive reads once
    assert len(worker_zip.reads) == 1
    files = worker_zip.importer._files
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(worker_zip.reads) == 1
    assert worker_zip.importer._files is files


@needs_patchable_zipimport
def test_rewritten_archive_is_reread(worker_zip):
    importlib.invalidate_caches()
    n = len(worker_zip.reads)
    _write_zip(worker_zip.path, [PKG + "1", PKG + "2"])
    importlib.invalidate_caches()
    assert len(worker_zip.reads) == n + 1
    assert importlib.import_module(PKG + "2").NAME == PKG + "2"
    importlib.invalidate_caches()
    assert len(worker_zip.reads) == n + 1


@needs_patchable_zipimport
def test_deleted_archive_matches_stock(worker_zip):
    importlib.invalidate_caches()
    reference = zipimport.zipimporter(worker_zip.path)
    os.remove(worker_zip.path)
    importlib.invalidate_caches()
    session._stock_zip_invalidate(reference)
    assert worker_zip.importer._files == reference._files == {}
    assert worker_zip.path not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        importlib.import_module(PKG + "2")
    # the archive coming back is read again, as with the stock method
    _write_zip(worker_zip.path, [PKG + "1", PKG + "2"])
    importlib.invalidate_caches()
    assert importlib.import_module(PKG + "2").NAME == PKG + "2"


def test_driver_import_leaves_zipimport_alone():
    code = (
        "import sys, zipimport\n"
        "stock = getattr(zipimport.zipimporter, 'invalidate_caches', None)\n"
        "import recsplit_spark\n"
        "assert 'pyspark.worker' not in sys.modules\n"
        "assert getattr(zipimport.zipimporter, 'invalidate_caches', None)"
        " is stock\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)


@needs_patchable_zipimport
def test_worker_keeps_zip_directories_across_tasks(spark):
    """Inside a real worker, after the package import, no zipimporter on
    sys.path re-reads its archive on ``importlib.invalidate_caches()`` —
    the call PySpark makes at the start of every task."""

    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        import recsplit_spark  # noqa: F401 — installs the worker method

        installed = (zipimport.zipimporter.invalidate_caches.__module__
                     == "recsplit_spark.session")
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        importlib.invalidate_caches()
        before = [f._files for f in zips]
        importlib.invalidate_caches()
        kept = all(f._files is b for f, b in zip(zips, before))
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"installed": [installed], "kept": [kept], "zips": [len(zips)]})

    row, = (spark.range(1, numPartitions=1)
            .mapInArrow(probe, "installed boolean, kept boolean, zips long")
            .collect())
    assert row.zips > 0  # PySpark puts pyspark.zip on every worker's path
    assert row.installed
    assert row.kept
