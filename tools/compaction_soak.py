#!/usr/bin/env python
"""100+-epoch compaction-scheduling soak (VERDICT r10 task 5).

The round-10 compactors made epoch stores foldable; round 11's
``duals.auto_compacting`` decides WHEN (size-pressure trigger: more
than ``max_version_dirs`` epoch/version dirs at any root of the stage's
``stage.stores`` -> compact every store through ``epoch_id - 1``, the
watermark the foreachBatch commit contract guarantees safe). This soak
proves the lifecycle claim over a run long enough for the difference to
matter:

- two store shapes: the k-core union edge log + latest-only snapshots,
  and the association-rule store (Hive epoch dirs + mergeable deltas);
- EPOCHS micro-batches each, auto-compaction on, vs a never-compacted
  control;
- recorded per store: per-epoch wall times (first/median/p90/last),
  peak and final version-dir counts, total small files, and the
  derived-result equality vs the control (the reader contract under
  periodic folding).

Bounded file counts + flat per-epoch latency + identical results =
the store survives an unbounded stream. Writes SOAK_r11.json.

Reference anchor: the offset/restart durability contract
(RapidIntegrationTest.kt:205-276) extended to store lifecycle.

Usage: python tools/compaction_soak.py [out_json] [epochs]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rapids_and_rivers_spark.session import build_session

EPOCHS = 100
MAX_DIRS = 16


def _count_files(root):
    n = 0
    for _r, _d, files in os.walk(root):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


def _summ(times):
    s = sorted(times)
    return {
        "first_s": round(times[0], 3),
        "median_s": round(statistics.median(times), 3),
        "p90_s": round(s[int(0.9 * (len(s) - 1))], 3),
        "last_s": round(times[-1], 3),
    }


def soak_kcore(spark, epochs, compact):
    from rapids_and_rivers_spark.streaming.duals import (
        auto_compacting,
        kcore_foreach_batch,
        read_latest_core,
        store_version_dirs,
    )

    out = tempfile.mkdtemp(prefix="rars_soak_kcore_")
    edges_root = os.path.join(out, "edges")
    n_nodes = 2 * epochs
    stage = kcore_foreach_batch(out, k=2, rounds=2)
    if compact:
        stage = auto_compacting(stage, max_version_dirs=MAX_DIRS)
    times, peak = [], 0
    for e in range(epochs):
        # a growing ring: each epoch adds two edges, closing a cycle at
        # the end so the final core depends on EVERY epoch's edges
        batch = [(2 * e, 2 * e + 1), (2 * e + 1, (2 * e + 2) % n_nodes)]
        t0 = time.monotonic()
        stage(spark.createDataFrame(batch, "src long, dst long"), e)
        times.append(time.monotonic() - t0)
        peak = max(peak, store_version_dirs(edges_root))
    core = sorted(tuple(r) for r in read_latest_core(spark, out).collect())
    stats = {
        "epochs": epochs,
        "epoch_times": _summ(times),
        "peak_version_dirs": peak,
        "final_version_dirs": store_version_dirs(edges_root),
        "total_files": _count_files(out),
    }
    shutil.rmtree(out, ignore_errors=True)
    return stats, core


def soak_assoc(spark, epochs, compact):
    from rapids_and_rivers_spark.streaming.duals import (
        assoc_items_foreach_batch,
        assoc_rules_from_store,
        auto_compacting,
        store_version_dirs,
    )

    out = tempfile.mkdtemp(prefix="rars_soak_assoc_")
    delta_root = os.path.join(out, "pair_delta")
    stage = assoc_items_foreach_batch(out, expected_items=6 * epochs)
    if compact:
        stage = auto_compacting(stage, max_version_dirs=MAX_DIRS)
    items = ["ale", "brie", "cod", "date", "egg"]
    times, peak = [], 0
    for e in range(epochs):
        rows = [
            (4 * e + b, items[(e + b + j) % len(items)])
            for b in range(2)
            for j in range(3)
        ]
        t0 = time.monotonic()
        stage(
            spark.createDataFrame(rows, "basket long, item string"), e
        )
        times.append(time.monotonic() - t0)
        peak = max(peak, store_version_dirs(delta_root))
    rules = sorted(
        tuple(r)
        for r in assoc_rules_from_store(spark, out).collect()
    )
    stats = {
        "epochs": epochs,
        "epoch_times": _summ(times),
        "peak_version_dirs": peak,
        "final_version_dirs": store_version_dirs(delta_root),
        "total_files": _count_files(out),
    }
    shutil.rmtree(out, ignore_errors=True)
    return stats, rules


def main() -> int:
    out_json = sys.argv[1] if len(sys.argv) > 1 else "SOAK_r11.json"
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else EPOCHS
    spark = build_session("compaction_soak")
    results = {"epochs": epochs, "max_version_dirs": MAX_DIRS, "stores": {}}
    for name, fn in (("kcore", soak_kcore), ("assoc", soak_assoc)):
        ctl_stats, ctl_res = fn(spark, epochs, compact=False)
        cmp_stats, cmp_res = fn(spark, epochs, compact=True)
        results["stores"][name] = {
            "control": ctl_stats,
            "compacted": cmp_stats,
            "derived_result_identical": ctl_res == cmp_res,
            "result_rows": len(ctl_res),
            "file_ratio_final": round(
                cmp_stats["total_files"] / max(1, ctl_stats["total_files"]), 3
            ),
        }
        print(
            f"{name}: control dirs={ctl_stats['final_version_dirs']} "
            f"files={ctl_stats['total_files']} | compacted peak_dirs="
            f"{cmp_stats['peak_version_dirs']} files="
            f"{cmp_stats['total_files']} | identical="
            f"{results['stores'][name]['derived_result_identical']}",
            flush=True,
        )
    with open(out_json, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {out_json}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
