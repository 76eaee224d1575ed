"""Stat-checked zip import cache invalidation (package ``__init__``).

PySpark workers call ``importlib.invalidate_caches()`` on every request;
importing the package makes that skip zip archives whose mtime and size
have not changed, while a changed or missing archive behaves as before.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import hadoop_formats_spark


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding ``moda`` on ``sys.path``, imported and invalidated once."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"moda": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    for name in ("moda", "modb"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import moda

    assert moda.X == 1
    importlib.invalidate_caches()  # the importer's first call reads
    yield path
    for name in ("moda", "modb"):
        sys.modules.pop(name, None)


def _count_reads(monkeypatch, path: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_changed_archive_is_reread(archive, monkeypatch):
    reads = _count_reads(monkeypatch, archive)
    _write_zip(archive, {"moda": "X = 1\n", "modb": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert reads == [archive]
    import modb

    assert modb.Y == 2


def test_missing_archive_invalidates_quietly(archive):
    os.remove(archive)
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    assert importer._files == {}


def test_install_is_idempotent():
    method = zipimport.zipimporter.invalidate_caches
    assert method._stat_checked
    hadoop_formats_spark._stat_check_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is method


def test_wrapper_installed_in_python_worker(spark):
    import pandas as pd

    def probe(batches):
        import zipimport

        import hadoop_formats_spark  # noqa: F401

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"ok": [getattr(method, "_stat_checked", False)]})

    rows = spark.range(1).mapInPandas(probe, "ok boolean").collect()
    assert rows and all(r.ok for r in rows)
