"""The engine's Python worker daemon (sedona_db_spark/worker_daemon.py).

Workers fork from a daemon that serves start-up archives with an importer
whose ``invalidate_caches`` does nothing and that froze its heap.  These
tests check both from inside a UDF, that archives added later still import
through the stock importer, and the hook installer on its own.
"""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from sedona_db_spark import worker_daemon


def _zip_module(tmp_path, name, body):
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", body)
    return str(path)


def test_udf_workers_use_frozen_archives_and_heap(spark):
    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import gc
        import os
        import sys
        import zipimport
        startup = {p for p in os.environ["PYTHONPATH"].split(os.pathsep)
                   if os.path.isfile(p)}
        kinds = sorted({type(f).__name__ for f in sys.path_importer_cache.values()
                        if isinstance(f, zipimport.zipimporter)
                        and f.archive in startup})
        return pd.Series([f"{gc.get_freeze_count()}|{','.join(kinds)}"] * len(s))

    for v in spark.range(4).repartition(2).select(probe("id").alias("v")).collect():
        frozen, kinds = v["v"].split("|")
        assert int(frozen) > 0
        assert kinds == "FrozenZipImporter"


def test_archive_added_later_imports_with_stock_importer(spark, tmp_path):
    @F.pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    spark.range(4).repartition(2).select(ident("id")).collect()  # warm workers
    spark.sparkContext.addPyFile(
        _zip_module(tmp_path, "sdb_late_archive", "VALUE = 41\n"))

    @F.pandas_udf("string")
    def late(s: pd.Series) -> pd.Series:
        import sys
        import sdb_late_archive
        finder = next(f for p, f in sys.path_importer_cache.items()
                      if p.endswith("sdb_late_archive.zip"))
        return pd.Series([f"{sdb_late_archive.VALUE + 1}|{type(finder).__name__}"]
                         * len(s))

    rows = spark.range(4).repartition(2).select(late("id").alias("v")).collect()
    assert {r["v"] for r in rows} == {"42|zipimporter"}


def test_hook_is_noop_without_archives(monkeypatch, tmp_path):
    monkeypatch.setattr(sys, "path", [str(tmp_path)])
    hooks = list(sys.path_hooks)
    monkeypatch.setattr(sys, "path_hooks", hooks)
    cache = dict(sys.path_importer_cache)
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    assert worker_daemon.install_archive_hook() == frozenset()
    assert sys.path_hooks == hooks and sys.path_importer_cache == cache


def test_hook_serves_startup_archive_without_reread(monkeypatch, tmp_path):
    archive = _zip_module(tmp_path, "sdb_startup_archive", "VALUE = 7\n")
    monkeypatch.setattr(sys, "path", [archive, str(tmp_path)])
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    stock = zipimport.zipimporter(archive)
    monkeypatch.setattr(sys, "path_importer_cache", {archive: stock})
    try:
        assert worker_daemon.install_archive_hook() == frozenset({archive})
        import sdb_startup_archive
        assert sdb_startup_archive.VALUE == 7
        finder = sys.path_importer_cache[archive]
        assert type(finder) is worker_daemon.FrozenZipImporter
        files = finder._files
        importlib.invalidate_caches()
        assert sys.path_importer_cache[archive] is finder
        assert finder._files is files  # the directory was not re-read
    finally:
        sys.modules.pop("sdb_startup_archive", None)
