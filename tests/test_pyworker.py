"""The zip-directory wrapper in ``_pyworker``: unchanged archives are not
re-read on ``importlib.invalidate_caches()``, changed or deleted ones behave
as the stdlib does, and Python workers running package functions have it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from datafusion_distributed_spark import _pyworker

needs_wrapper = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads zip directories lazily"
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture()
def zipped(tmp_path, monkeypatch):
    """An archive holding ``pw_mod_a`` on ``sys.path``, imported, and a counter
    of ``zipimport._read_directory`` calls."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pw_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import pw_mod_a  # noqa: F401

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # The importer read the directory when it was built, unstamped; the first
    # invalidation reads and stamps it.
    importlib.invalidate_caches()
    reads.clear()
    yield archive, reads
    for name in ("pw_mod_a", "pw_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    _pyworker._stamps.pop(archive, None)


@needs_wrapper
def test_unchanged_archive_is_not_reread(zipped):
    archive, reads = zipped
    assert _pyworker.active()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert "pw_mod_a.py" in sys.path_importer_cache[archive]._files


@needs_wrapper
def test_rewritten_archive_is_reread(zipped):
    archive, reads = zipped
    _write_zip(archive, {"pw_mod_a": "VALUE = 1\n", "pw_mod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    import pw_mod_b

    assert pw_mod_b.VALUE == 2


@needs_wrapper
def test_deleted_archive_matches_stdlib(zipped):
    archive, _ = zipped
    os.remove(archive)
    importlib.invalidate_caches()  # the stdlib does not raise either
    assert sys.path_importer_cache[archive]._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_not_installed_on_313(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pyworker._STDLIB_INVALIDATE
    )
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _pyworker.install() is False
    assert zipimport.zipimporter.invalidate_caches is _pyworker._STDLIB_INVALIDATE


@needs_wrapper
def test_python_worker_reuses_directories(spark):
    """A package function run in a Python worker finds the wrapper installed
    (the worker imported the package to unpickle it), and a later task's
    per-task invalidation re-reads nothing."""
    df = spark.range(1, numPartitions=1)
    runs = [
        df.mapInPandas(_pyworker.worker_report, "active boolean, rereads long").collect()
        for _ in range(2)
    ]
    assert [tuple(r) for r in runs[1]] == [(True, 0)]
