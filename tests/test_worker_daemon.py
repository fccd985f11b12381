"""The Python worker daemon (worker_daemon.py): workers of a get_spark
session import through CachedZipImporter, files added with addPyFile
stay importable, and an unchanged archive's directory survives
importlib.invalidate_caches() while a rewritten one is re-read."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

from weather_data_data_pipeline_spark.worker_daemon import CachedZipImporter


def _worker_values(spark, fn):
    """fn() evaluated in a Python worker, once per task."""
    return spark.sparkContext.parallelize(range(2), 2).map(lambda _: fn()).collect()


def test_workers_import_through_the_cached_zip_importer(spark):
    def hooks():
        import sys

        return [getattr(h, "__name__", repr(h)) for h in sys.path_hooks]

    for names in _worker_values(spark, hooks):
        assert "CachedZipImporter" in names
        assert "zipimporter" not in names


def test_zip_added_after_first_task_is_importable(spark, tmp_path):
    _worker_values(spark, lambda: 1)  # workers already running
    mod = f"graft_probe_{uuid.uuid4().hex}"
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe():
        import importlib

        return importlib.import_module(mod).VALUE

    assert _worker_values(spark, probe) == [42, 42]


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_directory_is_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    plain = zipimport.zipimporter(archive)
    cached = CachedZipImporter(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, cached)
    monkeypatch.setitem(sys.path_importer_cache, archive + os.sep, plain)
    reads.clear()

    importlib.invalidate_caches()
    assert reads == [archive]  # only the plain importer re-read
    assert cached.find_spec("a") is not None

    st = os.stat(archive)
    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive, archive]
    assert cached.find_spec("b") is not None
