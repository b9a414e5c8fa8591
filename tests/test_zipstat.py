"""Stat-checked zipimporter invalidation (sprintz_spark._zipstat): an
unchanged archive on sys.path is not re-read by importlib.invalidate_caches,
a rewritten one is, and Spark's Python workers run with the check."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

import sprintz_spark  # noqa: F401  (installs the check)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


def _zip_on_path(tmp_path, monkeypatch, modules: dict) -> str:
    zp = str(tmp_path / "zipstat_pkg.zip")
    _write_zip(zp, modules)
    monkeypatch.syspath_prepend(zp)
    for m in ("zipstat_mod_a", "zipstat_mod_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    monkeypatch.delitem(sys.path_importer_cache, zp, raising=False)
    return zp


def _count_reads(monkeypatch, archive: str) -> list:
    reads = []
    orig = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    zp = _zip_on_path(tmp_path, monkeypatch, {"zipstat_mod_a.py": "X = 1\n"})
    assert importlib.import_module("zipstat_mod_a").X == 1
    assert isinstance(sys.path_importer_cache[zp], zipimport.zipimporter)
    reads = _count_reads(monkeypatch, zp)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_seen(tmp_path, monkeypatch):
    zp = _zip_on_path(tmp_path, monkeypatch, {"zipstat_mod_a.py": "X = 1\n"})
    assert importlib.import_module("zipstat_mod_a").X == 1
    importlib.invalidate_caches()
    _write_zip(zp, {"zipstat_mod_a.py": "X = 1\n", "zipstat_mod_b.py": "Y = 2\n"})
    reads = _count_reads(monkeypatch, zp)
    importlib.invalidate_caches()
    assert importlib.import_module("zipstat_mod_b").Y == 2
    assert reads == [zp]


def test_install_is_idempotent_and_optional(monkeypatch):
    from sprintz_spark import _zipstat

    installed = zipimport.zipimporter.invalidate_caches
    assert installed._stat_checked
    _zipstat.install()
    assert zipimport.zipimporter.invalidate_caches is installed
    # a zipimport without the hook it wraps is left alone
    monkeypatch.delattr(zipimport.zipimporter, "invalidate_caches")
    _zipstat.install()
    assert not hasattr(zipimport.zipimporter, "invalidate_caches")


def test_spark_worker_runs_stat_checked(spark):
    def probe(batches):
        import zipimport

        import sprintz_spark  # noqa: F401

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"ok": [bool(getattr(fn, "_stat_checked", False))]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "ok boolean").collect()
    assert [r.ok for r in rows] == [True]
