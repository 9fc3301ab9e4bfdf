"""The worker daemon's stat-checked ``zipimporter.invalidate_caches``,
driven without Spark on a zip written by the test."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from ocr_agent_spark import worker_daemon

MODULE = "zipcache_probe_m"


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MODULE}.py", source)


def _import_fresh():
    sys.modules.pop(MODULE, None)
    return importlib.import_module(MODULE)


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 'v1'\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, MODULE, raising=False)
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)
    monkeypatch.setattr(worker_daemon, "_STAMPS", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    assert _import_fresh().VALUE == "v1"
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    # The first invalidation has no recorded stamp: one stock read.
    importer.invalidate_caches()
    assert archive in worker_daemon._STAMPS

    reads = []
    stock_read = zipimport._read_directory

    def counted_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted_read)

    cached = zipimport._zip_directory_cache[archive]
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []
    assert importer._files is cached

    _write_zip(archive, "VALUE = 'v2, rewritten'\n")
    importer.invalidate_caches()
    assert reads == [archive]
    assert _import_fresh().VALUE == "v2, rewritten"
    importer.invalidate_caches()
    assert reads == [archive]

    (tmp_path / "probe.zip").unlink()
    importer.invalidate_caches()
    assert reads == [archive, archive]
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert archive not in worker_daemon._STAMPS
