"""The package's stat-checked ``zipimporter.invalidate_caches``.

PySpark calls ``importlib.invalidate_caches()`` on every Python-worker task
and planner call; on Python < 3.13 the stock zipimporter re-reads its whole
archive directory each time (see ``steampipe_sqlite_spark/zipcache.py``).
These tests count ``zipimport._read_directory`` calls: none for an unchanged
archive, one for a rewritten one.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import steampipe_sqlite_spark  # noqa: F401  (installs the replacement)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``zc_mod_a`` on sys.path, imported and stamped, plus a read counter."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zc_mod_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_mod_a", "zc_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    mod = importlib.import_module("zc_mod_a")
    assert isinstance(mod.__loader__, zipimport.zipimporter)
    importlib.invalidate_caches()  # the first call reads and stamps the archive

    reads = []
    stock = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, mod.__loader__, reads
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, importer, reads = zip_on_path
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert "zc_mod_a.py" in importer._files


def test_rewritten_archive_is_reread_once(zip_on_path):
    archive, importer, reads = zip_on_path
    _write_zip(archive, ["zc_mod_a", "zc_mod_b"])
    importlib.invalidate_caches()
    mod_b = importlib.import_module("zc_mod_b")
    assert mod_b.NAME == "zc_mod_b"
    assert mod_b.__loader__ is importer
    assert len(reads) == 1


def test_deleted_archive_leaves_empty_directory(zip_on_path):
    archive, importer, _ = zip_on_path
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_spark_worker_rereads_no_archive(spark):
    """A Python worker that imported the engine re-reads no zip archive."""

    def second_invalidate(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import steampipe_sqlite_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        stock = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return stock(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"reads": [len(reads)], "zipimporters": [n_zip]})

    rows = (
        spark.range(8, numPartitions=8)
        .mapInPandas(second_invalidate, "reads long, zipimporters long")
        .collect()
    )
    assert len(rows) == 8
    assert all(r.zipimporters > 0 for r in rows), rows
    assert [r.reads for r in rows] == [0] * 8
