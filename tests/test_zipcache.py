"""The stat-gated zip directory cache (tripwire_spark.zipcache): an
unchanged archive is never re-parsed by ``importlib.invalidate_caches()``,
a rewritten or replaced one is, and every Python worker runs the patch."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from tripwire_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python >= 3.13 invalidates zip caches lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def read_log(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _patched() -> bool:
    return zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches


def test_invalidate_rereads_only_changed_zip(tmp_path, monkeypatch, read_log):
    assert _patched()
    archive = str(tmp_path / "zcpkg.zip")
    modules = {
        "zcpkg/__init__.py": "",
        "zcpkg/sub/__init__.py": "",
        "zcpkg/sub/a.py": "X = 1\n",
    }
    _write_zip(archive, modules)
    monkeypatch.syspath_prepend(archive)
    try:
        import zcpkg.sub.a

        assert zcpkg.sub.a.X == 1
        importers = [
            f for p, f in sys.path_importer_cache.items()
            if p.startswith(archive) and isinstance(f, zipimport.zipimporter)
        ]
        assert len(importers) >= 2
        # The first gated pass parses each archive at most once, shared by
        # all of its importers; after that an unchanged zip is never read.
        read_log.clear()  # the import itself parsed the new archive once
        importlib.invalidate_caches()
        assert read_log.count(archive) <= 1
        read_log.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert read_log == []

        # Rewritten in place (same inode): one re-read, the new module imports.
        _write_zip(archive, {**modules, "zcpkg/sub/b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert read_log.count(archive) == 1
        assert importlib.import_module("zcpkg.sub.b").Y == 2

        # Replaced by a new file (new inode): re-read again.
        read_log.clear()
        staged = str(tmp_path / "staged.zip")
        _write_zip(staged, {**modules, "zcpkg/sub/c.py": "Z = 3\n"})
        os.replace(staged, archive)
        importlib.invalidate_caches()
        assert read_log.count(archive) == 1
        assert importlib.import_module("zcpkg.sub.c").Z == 3
    finally:
        for name in [m for m in sys.modules if m == "zcpkg" or m.startswith("zcpkg.")]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[p]
        zipimport._zip_directory_cache.pop(archive, None)
        zipcache._parsed.pop(archive, None)


def test_every_worker_runs_patched_invalidate(spark):
    """Unpickling a UDF that references the package installs the patch in
    every Python worker, and a warm worker then re-reads no zip at all
    on the per-task ``importlib.invalidate_caches()``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def probe(ids: pd.Series) -> pd.Series:
        reads: list[str] = []
        real = zipimport._read_directory
        importlib.invalidate_caches()  # the first gated pass may parse once
        zipimport._read_directory = lambda archive: reads.append(archive) or real(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        patched = zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches
        return pd.Series([f"{os.getpid()} {patched} {len(reads)}"] * len(ids))

    rows = (
        spark.range(0, 64, numPartitions=16)
        .select(probe("id").alias("p"))
        .distinct()
        .collect()
    )
    reports = [r.p.split() for r in rows]
    assert reports
    assert {installed for _pid, installed, _n in reports} == {"True"}
    assert {n for _pid, _installed, n in reports} == {"0"}
