"""``executor``: the worker daemon that keeps tasks from re-reading zips.

PySpark's worker starts every task with ``importlib.invalidate_caches()``,
which makes each zip finder in ``sys.path_importer_cache`` re-read its
archive. The engine's daemon drops those finders before each task; these
tests pin that the helper keeps every other finder, that a reused worker's
later tasks start with none of the earlier finders and re-read no archive,
and that imports from the zip still work without touching the archive.
"""

import sys
import zipimport

from rapids_and_rivers_spark.executor import drop_zip_finders


def test_drop_zip_finders_keeps_other_finders(tmp_path):
    import zipfile

    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod.py", "X = 1\n")
    finder = zipimport.zipimporter(str(archive))
    cache = sys.path_importer_cache
    cache[str(archive)] = finder
    others = {p: f for p, f in cache.items() if not isinstance(f, zipimport.zipimporter)}
    try:
        drop_zip_finders()
        assert str(archive) not in cache
        assert not any(isinstance(f, zipimport.zipimporter) for f in cache.values())
        assert all(cache.get(p) is f for p, f in others.items())
        drop_zip_finders()  # nothing left to drop: a no-op
    finally:
        cache.pop(str(archive), None)


def test_session_runs_python_tasks_under_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "rapids_and_rivers_spark.executor"


def test_reused_worker_rereads_no_zip(spark):
    """One-partition ``mapInPandas`` jobs run until a worker comes back.
    Each later task on that worker starts with none of the zip finders
    the worker held at the end of its previous task, and no archive's
    directory was re-read in between; a pyspark submodule the worker had
    not imported still imports from the zip without a read. The body
    itself does nothing about zips: the daemon does it before the task."""
    import pytest

    fresh_candidates = ("pyspark.sql.avro.functions", "pyspark.sql.protobuf.functions")

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        def finders():
            return [
                f
                for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)
            ]

        # a re-read replaces an archive's entry in _zip_directory_cache,
        # so compare entries by identity with what this worker's previous
        # task left (stashed on the zipimport module)
        def rereads(before):
            now = zipimport._zip_directory_cache
            return sum(now.get(p) is not files for p, files in before.items())

        left = getattr(zipimport, "_rars_probe_left", None)
        reads_before_body = -1 if left is None else rereads(left[0])
        # the stash holds the previous task's finders alive, so an
        # identity match cannot be a new finder at a reused address
        stale = -1 if left is None else sum(
            any(f is g for g in left[1]) for f in finders()
        )
        fresh = next((m for m in fresh_candidates if m not in sys.modules), "")
        before_import = dict(zipimport._zip_directory_cache)
        fresh_file = importlib.import_module(fresh).__file__ if fresh else ""
        fresh_reads = rereads(before_import)
        for pdf in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "zipped": [".zip/" in importlib.import_module("pyspark").__file__],
                "reads_before_body": [reads_before_body],
                "stale": [stale],
                "fresh": [fresh],
                "fresh_file": [fresh_file],
                "fresh_reads": [fresh_reads],
            }
        )
        zipimport._rars_probe_left = (dict(zipimport._zip_directory_cache), finders())

    schema = (
        "pid long, zipped boolean, reads_before_body long, stale long, "
        "fresh string, fresh_file string, fresh_reads long"
    )
    one = spark.range(4).coalesce(1)
    runs = []
    # idle workers are handed out in turn, so run until one comes back
    # twice: its first and second reuse
    for _ in range(24):
        (row,) = one.mapInPandas(probe, schema).collect()
        runs.append(row)
        if sum(r.pid == row.pid for r in runs) == 3:
            break
    if not runs[0].zipped:
        pytest.skip("the worker imports pyspark from a directory, not a zip")
    reused = [r for r in runs if r.reads_before_body >= 0]
    assert len(reused) >= 2, runs
    for r in reused:
        assert r.stale == 0 and r.reads_before_body == 0, runs
    imported = [r for r in runs if r.fresh]
    assert imported, runs
    for r in imported:
        assert ".zip/" in r.fresh_file, r
        assert r.fresh_reads == 0, r
