"""The worker daemon's zipimporter.invalidate_caches: re-read a zip only
when it changed, and otherwise behave as Python 3.11's. No Spark."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from godal_spark import worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python 3.12 re-reads a zip lazily; the daemon patches nothing")


def _zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def patched(monkeypatch, tmp_path):
    """An archive imported through three importers, the patch installed
    (undone after the test) and every _read_directory call counted."""
    archive = str(tmp_path / "mods.zip")
    _zip(archive, {"wd_mod_a": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(worker_daemon, "_read_stamp", {})
    monkeypatch.syspath_prepend(archive)
    assert worker_daemon.install()
    importers = [zipimport.zipimporter(archive) for _ in range(3)]
    yield archive, importers, reads
    zipimport._zip_directory_cache.pop(archive, None)
    for name in ("wd_mod_a", "wd_mod_b"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_read_once(patched):
    archive, importers, reads = patched
    reads.clear()
    for _ in range(5):
        for imp in importers:
            imp.invalidate_caches()
    assert reads == [archive]    # the first call stamps it, no call re-reads
    assert all(imp._files is zipimport._zip_directory_cache[archive]
               for imp in importers)
    assert importlib.import_module("wd_mod_a").X == 1


def test_replaced_archive_is_re_read(patched, tmp_path):
    archive, importers, reads = patched
    assert importlib.import_module("wd_mod_a").X == 1   # sys.path's importer
    reads.clear()
    importlib.invalidate_caches()
    new = str(tmp_path / "new.zip")
    _zip(new, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
    os.replace(new, archive)
    importlib.invalidate_caches()
    assert importlib.import_module("wd_mod_b").Y == 2
    for imp in importers:
        imp.invalidate_caches()
    assert reads.count(archive) == 2    # once before the swap, once after
    assert all("wd_mod_b.py" in imp._files for imp in importers)


def test_deleted_archive_is_dropped(patched):
    archive, importers, _ = patched
    os.remove(archive)
    for imp in importers:
        imp.invalidate_caches()
        assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_install_is_a_no_op_from_python_3_12(monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert not worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is before
