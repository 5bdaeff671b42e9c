"""``importlib.invalidate_caches()`` re-reads a zip archive's directory
only when the archive changed, on the driver and in Spark's Python
workers (``http_datafusion_spark.zipcache``)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import http_datafusion_spark  # noqa: F401 — installs the gate
from http_datafusion_spark import zipcache


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _reads_during_invalidate(monkeypatch, archive: str) -> int:
    n = 0
    original = zipimport._read_directory

    def counted(path):
        nonlocal n
        n += path == archive
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()
    monkeypatch.setattr(zipimport, "_read_directory", original)
    return n


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ zipimport invalidates lazily")
def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"hds_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("hds_zip_a", "hds_zip_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    try:
        assert importlib.import_module("hds_zip_a").X == 1
        importlib.invalidate_caches()
        assert _reads_during_invalidate(monkeypatch, archive) == 0

        _write_zip(archive, {"hds_zip_a": "X = 1\n", "hds_zip_b": "Y = 2\n"})
        assert _reads_during_invalidate(monkeypatch, archive) >= 1
        assert importlib.import_module("hds_zip_b").Y == 2
        assert _reads_during_invalidate(monkeypatch, archive) == 0

        gated = zipimport.zipimporter.invalidate_caches
        zipcache.install()
        assert zipimport.zipimporter.invalidate_caches is gated
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_reused_worker_does_not_reread_its_zips(spark):
    """A worker's second task that imports the package re-reads no
    archive (16 at the parent: ``pyspark.zip``, py4j and the spark-core
    jar). Idle workers are handed out in turn, so run 1-task jobs until
    one lands on a worker that ran an earlier one."""

    def probe(batches):
        """One row: this worker's pid and how many zip directories a plain
        ``importlib.invalidate_caches()`` re-reads in it."""
        import importlib
        import os
        import zipimport

        import pyarrow as pa

        import http_datafusion_spark  # noqa: F401

        n = 0
        original = zipimport._read_directory

        def counted(path):
            nonlocal n
            n += 1
            return original(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [n]})

    seen: set[int] = set()
    for _ in range(20):
        row = spark.range(0, 1, 1, 1).mapInArrow(probe, "pid long, reads long").collect()[0]
        if row.pid in seen:
            assert row.reads == 0
            return
        seen.add(row.pid)
    pytest.fail(f"no Python worker ran two of 20 tasks: pids {sorted(seen)}")
