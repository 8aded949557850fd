"""Workloads by name. Each workload class provides:

- ``stage(spark, inputs)``: generate and stage inputs (part of set-up);
- ``op(run, tracer, jobs)``: one timed operation, returning a dict with
  ``seconds``, ``items`` (work units done), ``cpu`` (the engine's CPU
  seconds per input item, one value per unit of work), ``samples`` (latencies) and optionally
  ``attempted``;
- ``check(run, op)``: oracle mismatches of that operation's outputs;
- ``layers(run, ops, tracer)``: per-layer metrics from traced operations;
- ``warmup_ops``: untimed operations before a run measures;
- ``close()``: stop anything the workload started.
"""

from perfbench.workloads.behov import BehovOpenLoop
from perfbench.workloads.er import ErEpochs

WORKLOADS = {w.name: w for w in (BehovOpenLoop, ErEpochs)}
