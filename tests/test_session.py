"""session.get_spark's worker setup: the engine daemon's stat-guarded
zipimport cache (pure Python, then inside a Spark task) and its
pre-fork gc.freeze()."""

import importlib
import sys
import zipfile
import zipimport

from nerpii_spark import daemon


def _count_reads(monkeypatch):
    """Count zipimport's central-directory reads from now on."""
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    daemon.install()
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for m in ("zmod_a", "zmod_b"):  # absent now and after teardown
        monkeypatch.setitem(sys.modules, m, None)
        monkeypatch.delitem(sys.modules, m)
    assert importlib.import_module("zmod_a").X == 1
    # drop the archive's importer at teardown
    monkeypatch.setitem(
        sys.path_importer_cache, archive, sys.path_importer_cache[archive]
    )
    importlib.invalidate_caches()  # the first call stamps the importer
    calls = _count_reads(monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert calls == []
    # a second member changes the archive's size: it is re-read once
    _write_zip(archive, {"zmod_a.py": "X = 1\n", "zmod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert calls == [archive]
    assert importlib.import_module("zmod_b").Y == 2
    importlib.invalidate_caches()
    assert calls == [archive]


def test_guard_left_off_on_lazy_interpreters(monkeypatch):
    # CPython 3.13's zipimporter.invalidate_caches only drops its cache
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_workers_run_the_engine_daemon(spark):
    def probe(_):
        import gc
        import importlib
        import zipimport

        calls = []
        read = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield len(calls), gc.get_freeze_count()

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert len(got) == 4
    for rereads, frozen in got:
        assert rereads == 0
        assert frozen > 0
