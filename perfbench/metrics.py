"""Names and units of every metric the benchmark prints. BENCHMARK.json
lists the same names (a unit test keeps the two in step)."""

from __future__ import annotations

#: (name, unit) of the end-to-end metrics, printed with ``--trace 0``.
#: ``setup_s`` is the cold set-up: JVM launch, session start, warm-up job
#: and input staging. ``cpu_ms_per_item`` is the CPU (user + system,
#: over the driver JVM, its Python workers and the driver process) the
#: engine spends per input item: per need in a micro-batch for
#: behov_open_loop (median over the batches), per document in the whole
#: epoch sequence for er_epochs.
END_TO_END = (
    ("setup_s", "s"),
    ("cpu_ms_per_item", "ms"),
)

#: (name, unit) of the context figures printed after the end-to-end
#: metrics: the wall-time latency of the unit of work (for behov_open_loop
#: a need's wait from its scheduled creation to its reply's commit) and
#: throughput. They move with whatever else shares the machine, so they
#: are not gated.
CONTEXT = (
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
    ("msgs_per_s", "1/s"),
    ("docs_per_s", "1/s"),
)

#: (name, unit) of the per-layer metrics, printed with ``--trace 1``.
#: A layer a workload never reaches reports 0. ``trace.overhead_s`` is
#: the traced median CPU seconds per item minus the untraced one.
PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.stage_s", "s"),
    ("json_ops.parse_s", "s"),
    ("river.evaluate_s", "s"),
    ("river.pass_ratio", "ratio"),
    ("river.dlq_rows", "count"),
    ("runtime.process_batch_s", "s"),
    ("runtime.sink_write_s", "s"),
    ("runtime.dispatch_s", "s"),
    ("runtime.jobs_per_batch", "count"),
    ("runtime.tasks_per_batch", "count"),
    ("runtime.trigger_s", "s"),
    ("runtime.add_batch_s", "s"),
    ("runtime.latest_offset_s", "s"),
    ("runtime.wal_commit_s", "s"),
    ("runtime.query_planning_s", "s"),
    ("packet.listener_s", "s"),
    ("packet.replies", "count"),
    ("generator.lateness_p50_s", "s"),
    ("generator.lateness_max_s", "s"),
    ("generator.backlog", "count"),
    ("duals.ingest_epoch_s", "s"),
    ("duals.compact_s", "s"),
    ("duals.read_s", "s"),
    ("duals.jobs_per_epoch", "count"),
    ("duals.tasks_per_epoch", "count"),
    ("duals.store_dirs", "count"),
    ("duals.store_bytes", "bytes"),
    ("trace.overhead_s", "s"),
)
