"""The worker-side zip invalidation (twitter_crawler_spark/zipcache.py):
``importlib.invalidate_caches()`` re-reads a zip on ``sys.path`` only when
the archive changed on disk."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from twitter_crawler_spark import zipcache


def _write_zip(path: str, value: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("tcs_zipcache_probe.py", f"VALUE = {value}\n")


def test_zip_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    zipcache.install()
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "tcs_zipcache_probe", raising=False)
    assert importlib.import_module("tcs_zipcache_probe").VALUE == 1

    importlib.invalidate_caches()  # the importer's first re-read
    n = len(reads)
    assert n >= 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n, "an unchanged zip is not read again"

    _write_zip(archive, 22)
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert len(reads) == n + 1, "a rewritten zip is read again"
    del sys.modules["tcs_zipcache_probe"]
    assert importlib.import_module("tcs_zipcache_probe").VALUE == 22


def test_driver_keeps_stock_invalidation(monkeypatch):
    """Outside a PySpark worker ``install_in_worker`` changes nothing."""
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    zipcache.install_in_worker()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_worker_installs_cheap_invalidation(spark):
    """A Python worker that runs a task from this package has the cheap
    invalidation installed."""

    def probe(batches):
        import zipimport as zi

        import twitter_crawler_spark  # noqa: F401  (a worker imports the package)

        for _ in batches:
            yield pd.DataFrame({"fn": [zi.zipimporter.invalidate_caches.__name__]})

    got = {r.fn for r in spark.range(0, 4, 1, 2).mapInPandas(probe, "fn string").collect()}
    assert got == {"_invalidate_if_changed"}
