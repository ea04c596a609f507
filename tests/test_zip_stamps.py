"""The worker daemon's ``zipimporter.invalidate_caches`` re-reads a zip
archive's directory only when the archive changed on disk
(``opfpg_daemon_preload``)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import opfpg_daemon_preload as preload

pytestmark = pytest.mark.fpm


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip of modules on sys.path, with the stamped method installed
    for this test only."""
    path = str(tmp_path / "stamped_mods.zip")
    _write_zip(path, {"stamped_mod_a.py": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("stamped_mod_a", "stamped_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert importlib.import_module("stamped_mod_a").X == 1
    preload.install_zip_stamps()
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"stamped_mod_a.py": "X = 1\n", "stamped_mod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("stamped_mod_b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_worker_tasks_do_not_reread_archives(spark):
    """Each task's ``importlib.invalidate_caches()`` (pyspark's
    ``setup_spark_files``) reads no archive directory in the workers."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        return [(len(reads), len(importers))]

    ((reads, importers),) = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert importers > 0 and reads == 0
