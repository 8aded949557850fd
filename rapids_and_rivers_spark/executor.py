"""The Python worker daemon the engine runs its Python tasks in.

PySpark's worker starts every task with ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). On CPython 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory. A reused worker that imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries) holds one such
importer per imported pyspark subpackage, about 16 of them, so each task
paid ~0.2 CPU-s before its first row.

:func:`drop_zip_finders` removes those importers. The dict is only a
cache: an import that needs one again rebuilds it from
``zipimport._zip_directory_cache`` without touching the archive.

Run as a module (``python -m rapids_and_rivers_spark.executor``), this
file is PySpark's daemon with ``pyspark.daemon.worker_main`` wrapped to
call :func:`drop_zip_finders` before each task, so no task's
``invalidate_caches()`` finds a zip finder to re-read. ``build_session``
names it in ``spark.python.daemon.module``, the hook Spark documents for
wrapping the worker's entry point.
"""

from __future__ import annotations

import sys
from zipimport import zipimporter


def drop_zip_finders() -> None:
    """Drop every zip-archive finder from ``sys.path_importer_cache``."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimporter):
            cache.pop(path, None)


if __name__ == "__main__":
    from pyspark import daemon

    _worker_main = daemon.worker_main

    def worker_main(infile, outfile):
        drop_zip_finders()
        _worker_main(infile, outfile)

    daemon.worker_main = worker_main
    daemon.manager()
