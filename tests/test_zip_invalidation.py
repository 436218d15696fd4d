"""The lazy ``zipimporter.invalidate_caches`` that ``import rucene_spark``
installs on CPython < 3.12 (rucene_spark/__init__.py): an unchanged
archive's directory is not re-read, a rewritten one is, and the install
is idempotent. In-process; no Spark."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import rucene_spark

LAZY = sys.version_info < (3, 12)
needs_lazy = pytest.mark.skipif(not LAZY, reason="CPython >= 3.12 is lazy")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def archive(tmp_path):
    path = tmp_path / "mods.zip"
    _write_zip(path, {"zi_mod_a": "X = 1\n"})
    yield str(path)
    zipimport._zip_directory_cache.pop(str(path), None)


@pytest.fixture()
def reads(monkeypatch):
    """Counts zipimport._read_directory calls."""
    calls = []
    real = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


@needs_lazy
def test_unchanged_archive_is_not_reread(archive, reads):
    zi = zipimport.zipimporter(archive)
    zi.invalidate_caches()  # first call: no stamp yet, reads once
    n = len(reads)
    zi.invalidate_caches()
    zipimport.zipimporter(archive).invalidate_caches()
    assert len(reads) == n
    assert zi.find_spec("zi_mod_a") is not None


@needs_lazy
def test_rewritten_archive_is_reread(archive, reads, monkeypatch):
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    assert importlib.import_module("zi_mod_a").X == 1
    _write_zip(archive, {"zi_mod_a": "X = 1\n", "zi_mod_b": "Y = 2\n"})
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) > n
    try:
        assert importlib.import_module("zi_mod_b").Y == 2
    finally:
        for m in ("zi_mod_a", "zi_mod_b"):
            sys.modules.pop(m, None)


@needs_lazy
def test_vanished_archive_takes_the_stdlib_error_branch(archive):
    zi = zipimport.zipimporter(archive)
    zi.invalidate_caches()
    os.remove(archive)
    zi.invalidate_caches()
    assert zi._files == {}
    assert archive not in zipimport._zip_directory_cache


@needs_lazy
def test_reimport_does_not_wrap_twice():
    before = zipimport.zipimporter.invalidate_caches
    assert getattr(before, "_lazy", False)
    importlib.reload(rucene_spark)
    assert zipimport.zipimporter.invalidate_caches is before


@pytest.mark.skipif(LAZY, reason="the lazy method is installed below 3.12")
def test_stdlib_method_untouched_on_312():
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "_lazy")
