"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload behov_open_loop --seed 1 --seconds 20 --trace 0

It generates the workload's inputs from ``--seed``, sets up several
times (reporting the first, cold set-up), runs the workload's untimed
warm-up operations, measures for ``--seconds``, checks every output
against an independent oracle (the generator's manifest of needs, a
DuckDB computation), prints each metric by name with its unit, and ends
with one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, with latency and
throughput as context. ``--trace 1`` reports the per-layer metrics
instead: after the warm-up it measures untraced, then traced (spans and
job counters on), and reports the tracing overhead as the traced median
CPU per item minus the untraced one. Spans and a result file per
run are kept under ``.perfbench_work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def attempt(workload, run, tracer, jobs) -> dict:
    """One operation; an exception fails it instead of the run."""
    try:
        op = workload.op(run, tracer, jobs)
    except Exception:
        traceback.print_exc()
        return {"error": True, "attempted": 1}
    op.setdefault("attempted", 1)
    return op


def measure(workload, run, seconds: float, tracer, jobs) -> list[dict]:
    """Operations back to back within ``seconds`` (at least one): another
    starts only if one as long as the last still ends in time. The first
    operation that raises ends the loop."""
    ops = []
    deadline = time.perf_counter() + seconds
    last = 0.0
    while not ops or time.perf_counter() + last <= deadline:
        t0 = time.perf_counter()
        ops.append(attempt(workload, run, tracer, jobs))
        last = time.perf_counter() - t0
        if ops[-1].get("error"):
            break
    return ops


def check_all(workload, run, ops) -> int:
    """Check each operation's outputs; returns the failed unit count."""
    failed = 0
    for op in ops:
        if op.get("error"):
            failed += op["attempted"]
            continue
        try:
            problems = workload.check(run, op)
        except Exception:
            traceback.print_exc()
            failed += op["attempted"]
            continue
        for p in problems:
            print(f"oracle mismatch ({workload.name}): {p}", file=sys.stderr)
        failed += op.get("failed", 1 if problems else 0)
    return failed


def unit_cpu(ops) -> list[float]:
    return [x for op in ops if not op.get("error") for x in op.get("cpu", ())]


def end_to_end(workload, run, ops, setup) -> dict:
    from perfbench import stats

    run.context["op_seconds"] = [op["seconds"] for op in ops if "seconds" in op]
    cpu = unit_cpu(ops)
    timed = [op for op in ops if op.get("samples")]
    if not cpu or not timed:
        return {}
    run.context["cpu_units"] = len(cpu)
    summary = stats.summarize([x for op in timed for x in op["samples"]])
    run.context["latency_samples"] = summary["n"]
    # the independent units behind those samples: the replies of one
    # batch share its commit, an ER sequence is one sample
    run.context["latency_units"] = sum(op.get("sample_batches", 1) for op in timed)
    run.context["latency_p50_s"] = summary["p50"]
    run.context["latency_p90_s"] = summary["p90"]
    if "batch_rows" in timed[0]:
        run.context["batch_rows"] = [op["batch_rows"] for op in timed]
    run.context[f"{workload.unit}_per_s"] = sum(op["items"] for op in timed) / sum(
        op["seconds"] for op in timed
    )
    return {
        # the set-up that launched the JVM, as a job starting up pays it;
        # the later, warm set-ups are context
        "setup_s": setup[0],
        "cpu_ms_per_item": 1000.0 * statistics.median(cpu),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rapids_and_rivers_spark")):
        print(
            "run from the root of a checkout: rapids_and_rivers_spark/ not found",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    # executor-side Python workers import the engine and the benchmark's
    # handler factories by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import harness, metrics
    from perfbench.trace import JobCounter, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run = harness.Run(ROOT, args.workload, args.seed, args.seconds)
    harness.prepare_environment(run.work)
    results = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(results, exist_ok=True)
    workload = WORKLOADS[args.workload](args.seed)
    harness.record_context(run)
    try:
        setup_tracer = Tracer(True)
        setup = harness.set_up(run, workload.stage, setup_tracer)
        run.context["setup_samples"] = setup
        untraced = JobCounter(run.spark, False)
        warmup = [
            attempt(workload, run, Tracer(False), untraced) for _ in range(workload.warmup_ops)
        ]
        ops, traced, base = [], [], []
        if not any(op.get("error") for op in warmup):
            if args.trace:
                tracer = Tracer(True)
                base = measure(workload, run, args.seconds, Tracer(False), untraced)
                traced = measure(workload, run, args.seconds, tracer, JobCounter(run.spark, True))
            else:
                ops = measure(workload, run, args.seconds, Tracer(False), untraced)
        ops = warmup + ops
        run.context["warmup_op_seconds"] = [op.get("seconds") for op in warmup]
        failed = check_all(workload, run, ops + traced + base)
        attempted = sum(op["attempted"] for op in ops + traced + base)
        if args.trace:
            values = dict.fromkeys((n for n, _ in metrics.PER_LAYER), 0.0)
            values["session.start_s"] = setup_tracer.seconds("session.start")[0]
            values["sources.stage_s"] = statistics.median(setup_tracer.seconds("sources.stage"))
            good = [op for op in traced if not op.get("error")]
            base = [op for op in base if not op.get("error")]
            run.context["op_seconds"] = {
                "traced": [op["seconds"] for op in good],
                "untraced": [op["seconds"] for op in base],
            }
            if unit_cpu(good) and unit_cpu(base):
                values.update(workload.layers(run, good, tracer))
                values["trace.overhead_s"] = statistics.median(unit_cpu(good)) - statistics.median(
                    unit_cpu(base)
                )
            tracer.dump(os.path.join(results, f"{args.workload}-{args.seed}-spans.json"))
            units = dict(metrics.PER_LAYER)
        else:
            values, units = end_to_end(workload, run, ops[workload.warmup_ops :], setup), dict(
                metrics.END_TO_END
            )
        run.context["peak_rss_mb"] = harness.peak_rss_mb(run)
        harness.finish_context(run)
    finally:
        harness.shut_down(run)
        workload.close()
        shutil.rmtree(run.work, ignore_errors=True)

    out = {
        "correct": failed == 0 and len(values) == len(units),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units if k in values},
    }
    print(f"context {json.dumps(run.context, sort_keys=True)}")
    print(f"error_rate {failed / attempted:.6f} ratio ({failed}/{attempted})")
    for k, v in out["metrics"].items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    for k, unit in metrics.CONTEXT:
        if k in run.context:
            print(f"{k} {run.context[k]:.6g} {unit} (context)")
    with open(os.path.join(results, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"context": run.context, **out}, f, indent=1, sort_keys=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
