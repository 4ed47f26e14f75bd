"""The package's lazy ``zipimporter.invalidate_caches`` backport.

PySpark workers call ``importlib.invalidate_caches()`` once per task; before
CPython 3.13 that made every cached ``zipimporter`` re-read its archive's
central directory. The package backports 3.13's lazy behaviour on import.
No Spark here.
"""

import importlib
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest

import pubscience_spark
from pubscience_spark import _install_lazy_zip_invalidation

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OLD = sys.version_info < (3, 13)
old_only = pytest.mark.skipif(not OLD, reason="stdlib is lazy on 3.13+")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zbp_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zbp_a", "zbp_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    yield archive
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def read_counter(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@old_only
def test_installed_on_import():
    assert zipimport.zipimporter.invalidate_caches.__module__ \
        == pubscience_spark.__name__
    assert not _install_lazy_zip_invalidation()  # idempotent


@old_only
def test_invalidation_does_not_reread_unchanged_archive(zip_on_path,
                                                        read_counter):
    import zbp_a
    assert zbp_a.X == 1
    del read_counter[:]
    for _ in range(10):
        importlib.invalidate_caches()
    assert [a for a in read_counter if a == zip_on_path] == []
    importlib.reload(zbp_a)  # the importer still serves the archive


def test_rewritten_archive_is_reread(zip_on_path, read_counter):
    import zbp_a
    assert zbp_a.X == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import zbp_b  # noqa: F401
    _write_zip(zip_on_path, {"zbp_a": "X = 2\n", "zbp_b": "Y = 3\n"})
    del read_counter[:]
    importlib.invalidate_caches()
    import zbp_b
    assert zbp_b.Y == 3
    if OLD:
        assert read_counter.count(zip_on_path) == 1


def _lazy_313(self):
    """3.13's shape: drops the shared entry, never touches ``_files``."""
    zipimport._zip_directory_cache.pop(self.archive, None)


_lazy_313.__module__ = "zipimport"


def _fake_zipimport(**drop):
    """A module shaped like the stdlib ``zipimport`` (sharing its stock
    method), minus the names in ``drop``; without ``_files`` its method
    has 3.13's shape."""
    stock = zipimport.zipimporter.invalidate_caches
    stock = getattr(stock, "__wrapped__", stock)
    if drop.pop("_files", False):
        stock = _lazy_313
    mod = types.ModuleType("zipimport")
    mod.zipimporter = type("zipimporter", (), {"invalidate_caches": stock})
    mod._zip_directory_cache = {}
    mod._read_directory = getattr(zipimport._read_directory, "__wrapped__",
                                  zipimport._read_directory)
    for name in drop:
        delattr(mod, name)
    return mod, stock


@old_only
def test_installs_on_a_complete_module():
    mod, stock = _fake_zipimport()
    assert _install_lazy_zip_invalidation(mod)
    assert mod.zipimporter.invalidate_caches is not stock
    assert mod.zipimporter.invalidate_caches.__wrapped__ is stock


@pytest.mark.parametrize("drop", ["_zip_directory_cache", "_read_directory",
                                  "_files"])
def test_leaves_stdlib_alone_without_private_names(drop):
    mod, stock = _fake_zipimport(**{drop: True})
    read = getattr(mod, "_read_directory", None)
    assert not _install_lazy_zip_invalidation(mod)
    assert mod.zipimporter.invalidate_caches is stock
    assert getattr(mod, "_read_directory", None) is read


def test_leaves_stdlib_alone_on_313(monkeypatch):
    mod, stock = _fake_zipimport()
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not _install_lazy_zip_invalidation(mod)
    assert mod.zipimporter.invalidate_caches is stock


def test_udf_module_import_installs_it():
    """A worker unpickles ``_extract_batches`` by reference, importing
    ``pubscience_spark.operators.extract``; that alone installs it."""
    code = ("import zipimport, pubscience_spark.operators.extract\n"
            "print(zipimport.zipimporter.invalidate_caches.__module__)")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True, timeout=120).stdout
    assert out.strip() == ("pubscience_spark" if OLD else "zipimport")
