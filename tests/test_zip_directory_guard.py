"""The package's zipimporter guard: in a PySpark worker,
``importlib.invalidate_caches()`` re-reads a zip archive's directory
only when the archive changed.

PySpark's Python worker calls ``invalidate_caches()`` at the start of
every task; without the guard each cached zipimporter re-parses the
whole pyspark.zip directory per task."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

import geographiclib_go_spark
from geographiclib_go_spark.sources import images as im


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zguardpkg/__init__.py", "")
        for name, src in modules.items():
            zf.writestr(f"zguardpkg/{name}.py", src)


def test_guard_not_installed_outside_workers():
    """This process is a driver: importing the package left the
    stdlib zipimporter alone."""
    assert "pyspark.worker" not in sys.modules
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "__wrapped__")


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    # install the guard for this test only (monkeypatch restores it)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    geographiclib_go_spark._keep_unchanged_zip_directories()
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zguardpkg.a").VALUE == 1
        importlib.invalidate_caches()

        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        # a rewritten archive reloads: its new module imports
        _write_zip(archive, {"a": "VALUE = 1\n", "b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        # (one read per importer of the archive: the root and zguardpkg)
        assert set(reads) == {archive}
        assert importlib.import_module("zguardpkg.b").VALUE == 2

        # a same-size rewrite in place reloads once its mtime moved ...
        st = os.stat(archive)
        _write_zip(archive, {"a": "VALUE = 3\n", "b": "VALUE = 2\n"})
        assert os.stat(archive).st_size == st.st_size
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        reads.clear()
        importlib.invalidate_caches()
        assert set(reads) == {archive}
        # ... but not within one mtime tick: the documented limit
        st = os.stat(archive)
        _write_zip(archive, {"a": "VALUE = 4\n", "b": "VALUE = 2\n"})
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
        now = os.stat(archive)
        assert (now.st_mtime_ns, now.st_size, now.st_ino) == \
            (st.st_mtime_ns, st.st_size, st.st_ino)
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []
    finally:
        for name in ("zguardpkg", "zguardpkg.a", "zguardpkg.b"):
            sys.modules.pop(name, None)


def test_guard_installed_in_every_worker(spark):
    """Each worker of an 8-task engine mapInPandas has the guard, and
    a second invalidate_caches() there re-reads no archive."""
    def report(batches, _engine=im.splitmix64):
        # _engine makes cloudpickle import the engine in the worker,
        # as every engine UDF does
        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = [v for v in sys.path_importer_cache.values()
                if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "guard": [hasattr(zipimport.zipimporter.invalidate_caches,
                              "__wrapped__")],
            "zip_importers": [len(zips)],
            "reads": [len(reads)]})

    got = (spark.range(0, 80, 1, 8)
           .mapInPandas(report, "pid long, guard boolean, "
                        "zip_importers long, reads long")
           .toPandas())
    assert len(got) == 8
    assert got.guard.all(), got
    assert (got.reads == 0).all(), got
    # the workers do import from zip archives (pyspark.zip), so the
    # guard has something to keep
    assert (got.zip_importers > 0).all(), got
