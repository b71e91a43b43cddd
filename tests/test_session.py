"""Session defaults: the PySpark daemon that keeps per-task cost flat."""

from __future__ import annotations

import importlib.machinery
import sys
import zipfile
import zipimport

from transe_pyspark_spark._daemon import drop_zip_importers


def test_drop_zip_importers_keeps_other_finders(tmp_path):
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mod.py", "X = 1\n")
    zip_key, dir_key = str(archive), str(tmp_path)
    calls = []

    def stub(infile, outfile):
        calls.append((infile, outfile))
        return 7

    infile, outfile = object(), object()
    cache = sys.path_importer_cache
    saved = dict(cache)
    try:
        cache[zip_key] = zipimport.zipimporter(zip_key)
        cache[dir_key] = importlib.machinery.FileFinder(dir_key)
        assert drop_zip_importers(stub)(infile, outfile) == 7
        kept = {p for p, f in saved.items() if not isinstance(f, zipimport.zipimporter)}
        assert set(cache) == kept | {dir_key}
        assert isinstance(cache[dir_key], importlib.machinery.FileFinder)
        assert calls == [(infile, outfile)]
    finally:
        cache.clear()
        cache.update(saved)


def test_python_tasks_start_without_zip_importers(spark):
    assert spark.conf.get("spark.python.daemon.module") == "transe_pyspark_spark._daemon"

    def probe(_):
        import sys
        import zipimport

        yield sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())

    rdd = spark.sparkContext.parallelize(range(8), 8)
    # twice: the second job runs on reused workers, where the cache has filled
    for _ in range(2):
        assert rdd.mapPartitions(probe).collect() == [0] * 8
