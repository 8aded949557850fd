#!/usr/bin/env python
"""Per-job wall-time attribution for one or more catalog queries.

Runs each named query exactly like bench.py (noop sink) in a session with
the UI enabled, then pulls the executed jobs from the local REST API
(http://localhost:<port>/api/v1) and prints, per job: duration, stage
shuffle read/write bytes, input bytes and task count. This is the
guide-§1 "where is the time actually going" loop without a browser.
Next to each query's job list it prints how many classes Spark's code
generator compiled for it and the time that took (Spark's
``CodegenMetrics`` compile count and ``CodeGenerator.compileTime``), so
a generated-class cache too small for the working set shows up as
recompiles of a query that already ran. Beside it go the JVM's
code-cache pools (used, peak and max MB), so a full code cache, after
which the JIT stops compiling, shows without reading the JVM's stdout.

Usage: python tools/profile_query.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rapids_and_rivers_spark.session import build_session
from rapids_and_rivers_spark import catalog


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path) as r:
        return json.load(r)


def _codegen(spark) -> tuple[int, float]:
    """(classes compiled, seconds spent compiling) since the JVM started."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count.getCount(), ns / 1e9


def _code_cache(spark) -> list[tuple[str, float, float, float]]:
    """(pool, used MB, peak MB, max MB) of each of the JVM's code-cache
    pools: ``CodeCache``, or the ``CodeHeap '…'`` segments when the cache
    is segmented."""
    jvm = spark.sparkContext._jvm
    pools = []
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        name = pool.getName()
        if name == "CodeCache" or name.startswith("CodeHeap"):
            usage, peak = pool.getUsage(), pool.getPeakUsage()
            mb = (usage.getUsed(), peak.getUsed(), usage.getMax())
            pools.append((name, *(b / (1 << 20) for b in mb)))
    return pools


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    qs = catalog.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = build_session(
        "rars_profile", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl  # e.g. http://host:4040
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    # warm-up identical to bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.createDataFrame([(1,)], "x int").mapInPandas(lambda it: it, "x int").count()
    catalog.events_rapid(spark, sf_dir).count()
    catalog.media_corpus(spark, sf_dir).count()

    for name in names:
        jobs_before = {j["jobId"] for j in _api(base, "/jobs")}
        compiled0, compile_s0 = _codegen(spark)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        compiled1, compile_s1 = _codegen(spark)
        time.sleep(0.5)
        jobs = [j for j in _api(base, "/jobs") if j["jobId"] not in jobs_before]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"\n=== {name}: wall {wall:.2f}s, {len(jobs)} jobs ===")
        total_job = 0.0
        for j in jobs:
            sub = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            try:
                comp = time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                dur = time.mktime(comp) - time.mktime(sub)
            except KeyError:
                dur = float("nan")
            # sub-second precision from the GMT millis if present
            try:
                sms = int(j["submissionTime"][20:23])
                cms = int(j["completionTime"][20:23])
                dur += (cms - sms) / 1000.0
            except Exception:
                pass
            total_job += max(dur, 0)
            desc = (j.get("description") or j.get("name") or "")[:90]
            print(
                f"  job {j['jobId']:>4} {dur:7.2f}s tasks={j['numCompletedTasks']:>4} "
                f"stages={len(j['stageIds'])} {desc}"
            )
        print(f"  sum(job durations) = {total_job:.2f}s (gaps = driver/python time)")
        print(
            f"  generated classes compiled: {compiled1 - compiled0} "
            f"in {compile_s1 - compile_s0:.2f}s"
        )
        for pool, used, peak, cap in _code_cache(spark):
            print(f"  {pool}: used {used:.1f} MB, peak {peak:.1f} MB, max {cap:.1f} MB")
        # top stages by executorRunTime for the biggest jobs
        stages = _api(base, "/stages?status=complete")
        new_stage_ids = {s for j in jobs for s in j["stageIds"]}
        mine = [s for s in stages if s["stageId"] in new_stage_ids]
        mine.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        print("  top stages by executorRunTime:")
        for s in mine[:12]:
            print(
                f"    stage {s['stageId']:>4} run={s['executorRunTime']/1000:7.2f}s "
                f"tasks={s['numCompleteTasks']:>4} "
                f"in={s.get('inputBytes',0)>>20}MB "
                f"sr={s.get('shuffleReadBytes',0)>>20}MB "
                f"sw={s.get('shuffleWriteBytes',0)>>20}MB  "
                f"{(s.get('description') or s['name'])[:70]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
