"""Process-level runtime state: the driver's expression memo
(``runtime/colcache``) and the UDF workers' zipimport hook
(``kernel_udf._skip_unchanged_zip_rereads``)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport
from collections import OrderedDict

import pandas as pd

from jema_js_spark.runtime import colcache
from jema_js_spark.validation import kernel_udf


def test_colcache_evicts_least_recently_used(monkeypatch):
    """At the cap, one miss evicts exactly the least recently used entry:
    a key hit just before a stream of new keys stays cached."""
    monkeypatch.setattr(colcache, "_CACHE", OrderedDict())
    built = []

    def get(i):
        return colcache.cached_column(("test.lru", i),
                                      lambda: built.append(i) or i)

    for i in range(colcache._CAP):
        get(i)
    get(0)                                  # hit: 0 is now most recent
    assert built == list(range(colcache._CAP))
    get(colcache._CAP)                      # the 257th distinct key
    assert len(colcache._CACHE) == colcache._CAP
    cached = {k[2] for k in colcache._CACHE}
    assert cached == set(range(colcache._CAP + 1)) - {1}
    get(0)
    assert built[-1] == colcache._CAP       # 0 was not rebuilt
    get(1)
    assert built[-1] == 1                   # 1 was the one evicted


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_hook_skips_rereads_of_unchanged_archive(tmp_path):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"jema_zip_probe_a": "X = 1\n"})
    real_read = zipimport._read_directory
    real_invalidate = zipimport.zipimporter.invalidate_caches
    hook_done = kernel_udf._ZIP_HOOK_DONE
    reads = []

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    zipimport._read_directory = counting_read
    sys.path.insert(0, archive)
    try:
        import jema_zip_probe_a

        assert jema_zip_probe_a.X == 1
        kernel_udf._ZIP_HOOK_DONE = False
        kernel_udf._skip_unchanged_zip_rereads()
        installed = zipimport.zipimporter.invalidate_caches
        kernel_udf._skip_unchanged_zip_rereads()
        assert zipimport.zipimporter.invalidate_caches is installed
        importlib.invalidate_caches()       # first after install: reads
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"jema_zip_probe_a": "X = 1\n",
                             "jema_zip_probe_b": "Y = 2\n"})
        importlib.invalidate_caches()
        import jema_zip_probe_b

        assert jema_zip_probe_b.Y == 2
        assert archive in reads
    finally:
        zipimport.zipimporter.invalidate_caches = real_invalidate
        zipimport._read_directory = real_read
        kernel_udf._ZIP_HOOK_DONE = hook_done
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        sys.modules.pop("jema_zip_probe_a", None)
        sys.modules.pop("jema_zip_probe_b", None)


def test_engine_udf_workers_skip_pyspark_zip_rereads(spark):
    """Inside real Python workers (which import pyspark and py4j from
    their zips), an ``invalidate_caches()`` after an engine UDF has run
    re-reads no archive."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("reads long, zips long")
    def probe(s: pd.Series) -> pd.DataFrame:
        import importlib
        import sys
        import zipimport

        from jema_js_spark.validation.kernel_udf import _get_validator

        _get_validator("true", None, False)
        importlib.invalidate_caches()
        real_read = zipimport._read_directory
        reads = []

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        return pd.DataFrame({"reads": [len(reads)] * len(s),
                             "zips": [zips] * len(s)})

    rows = (spark.range(0, 64, 1, 4).select(probe("id").alias("p"))
            .select("p.*").collect())
    assert len(rows) == 64
    assert {r.reads for r in rows} == {0}
    assert min(r.zips for r in rows) > 0     # the workers do import zips
