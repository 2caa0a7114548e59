"""The once-per-worker zip-import guard of ``worker_env`` (no Spark).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. With the guard, an unchanged archive keeps its cached directory
(no re-read), a rewritten archive is re-read, and CPython 3.13+ (which
already invalidates lazily) is left alone.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from orc_format_spark import worker_env


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``ofs_zipmod_a`` on ``sys.path``, imported once so a
    ``zipimporter`` for it is cached; the guard and every cache it
    touches are restored afterwards."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["ofs_zipmod_a"])
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(worker_env, "_stamps", {})
    monkeypatch.syspath_prepend(archive)
    for name in ("ofs_zipmod_a", "ofs_zipmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("ofs_zipmod_a")
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    yield archive
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="guard is not installed on 3.13+")
def test_unchanged_archive_is_not_reread(zip_on_path):
    worker_env._install_zip_guard()
    files = zipimport._zip_directory_cache[zip_on_path]
    for _ in range(3):
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[zip_on_path] is files
        assert sys.path_importer_cache[zip_on_path]._files is files


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="guard is not installed on 3.13+")
def test_rewritten_archive_is_reread(zip_on_path):
    worker_env._install_zip_guard()
    importlib.invalidate_caches()
    files = zipimport._zip_directory_cache[zip_on_path]
    _write_zip(zip_on_path, ["ofs_zipmod_a", "ofs_zipmod_b"])
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[zip_on_path] is not files
    assert importlib.import_module("ofs_zipmod_b").NAME == "ofs_zipmod_b"
    # the new directory is stamped: the next invalidation keeps it
    files = zipimport._zip_directory_cache[zip_on_path]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[zip_on_path] is files


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="guard is not installed on 3.13+")
def test_removed_archive_empties_its_importer(zip_on_path):
    worker_env._install_zip_guard()
    imp = sys.path_importer_cache[zip_on_path]
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert zip_on_path not in zipimport._zip_directory_cache
    assert imp._files == {}
    assert zip_on_path not in worker_env._stamps


def test_guard_not_installed_on_313(zip_on_path, monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker_env._install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is before
