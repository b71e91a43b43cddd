"""PySpark daemon that drops zip importers from the path cache before each task.

At the start of every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.10-3.12 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory; a worker importing pyspark from ``pyspark.zip`` (1,328
entries) holds 16 of them, about 0.2 core-s per task however small the task.
A dropped entry costs little: imported modules are untouched, and a later
import rebuilds the importer from ``zipimport._zip_directory_cache``.

Selected by ``spark.python.daemon.module`` (see ``session._DEFAULT_CONF``).
"""

from __future__ import annotations

import sys
import zipimport

import pyspark.daemon


def drop_zip_importers(worker_main):
    def main(infile, outfile):
        cache = sys.path_importer_cache
        for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
            del cache[path]
        return worker_main(infile, outfile)

    return main


if __name__ == "__main__":
    # manager()'s forked workers look worker_main up in pyspark.daemon.
    pyspark.daemon.worker_main = drop_zip_importers(pyspark.daemon.worker_main)
    pyspark.daemon.manager()
