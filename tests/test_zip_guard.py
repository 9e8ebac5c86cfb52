"""The zip invalidation guard (``sources.topic_dir``): PySpark's per-task
``importlib.invalidate_caches()`` re-reads a zip archive only when the
archive changed. No Spark needed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from kasper_spark.sources.topic_dir import install_zip_invalidation_guard


@pytest.fixture()
def pristine(monkeypatch):
    """Start from CPython's own method (an earlier in-process connector
    read may have installed the guard) and put back what was there."""
    cls = zipimport.zipimporter
    cur = cls.invalidate_caches
    orig = cur.__wrapped__ if getattr(cur, "_kasper_zip_guard", False) else cur
    monkeypatch.setattr(cls, "invalidate_caches", orig)
    return orig


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="guard is 3.11-only")
def test_unchanged_archive_is_not_reread(pristine, tmp_path, monkeypatch):
    archive = str(tmp_path / "kzg.zip")
    _write_zip(
        archive,
        {"kzg_pkg/__init__.py": "", "kzg_pkg/first.py": "VALUE = 1\n"},
    )
    monkeypatch.syspath_prepend(archive)
    for mod in ("kzg_pkg", "kzg_pkg.first", "kzg_pkg.second"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("kzg_pkg.first").VALUE == 1
    # the archive and its package dir each have a zipimporter
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) == 2

    assert install_zip_invalidation_guard() is True
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) <= 1  # the first call may read once, for both
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    # a rewrite that changes the size is read exactly once, and what it
    # added imports
    _write_zip(
        archive,
        {
            "kzg_pkg/__init__.py": "",
            "kzg_pkg/first.py": "VALUE = 1\n",
            "kzg_pkg/second.py": "VALUE = 2\n",
        },
    )
    importlib.invalidate_caches()
    assert reads == [archive]
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("kzg_pkg.second").VALUE == 2


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="guard is 3.11-only")
def test_install_is_idempotent(pristine):
    assert install_zip_invalidation_guard() is True
    wrapper = zipimport.zipimporter.invalidate_caches
    assert install_zip_invalidation_guard() is False
    assert zipimport.zipimporter.invalidate_caches is wrapper
    assert wrapper.__wrapped__ is pristine  # one layer, not two


def test_python_312_and_later_is_left_alone(pristine, monkeypatch):
    if sys.version_info < (3, 12):
        monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert install_zip_invalidation_guard() is False
    assert zipimport.zipimporter.invalidate_caches is pristine
