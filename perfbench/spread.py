"""Run the benchmark several times per workload, one seed each, and
report each end-to-end metric's median and quartile spread
((Q3 - Q1) / median) next to the bound BENCHMARK.json fixes for it.

    python3 perfbench/spread.py --workloads behov_open_loop er_epochs --seeds 1 2 3 4 5

Run from the root of a checkout. Runs are sequential, so they do not
compete with each other for the machine.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.getcwd())

from perfbench.stats import quartile_spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=180,
    )
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1]), wall


def main(argv=None) -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    args = p.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for workload in args.workloads:
        values: dict[str, list[float]] = {k: [] for k in bounds}
        walls = []
        for seed in args.seeds:
            result, wall = run_once(workload, seed, bench["run_seconds"])
            walls.append(wall)
            ok &= result["correct"] and result["failed"] == 0
            for k in bounds:
                values[k].append(result["metrics"][k]["value"])
            print(f"{workload} seed {seed}: wall {wall:.1f}s correct {result['correct']} "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
        print(f"{workload}: wall median {sorted(walls)[len(walls) // 2]:.1f}s max {max(walls):.1f}s")
        for k, v in values.items():
            spread = quartile_spread(v)
            flag = "ok" if spread < bounds[k] / 3 else ("within bound" if spread <= bounds[k] else "TOO WIDE")
            print(f"  {k}: median {sorted(v)[len(v) // 2]:.4g} spread {spread:.3f} "
                  f"bound {bounds[k]} {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
