"""The benchmark's own ``foreachBatch`` body and sinks for the streaming
workloads: they time the public ``StreamingRapid.process_batch`` and the
sink writes it calls, and read Spark's per-trigger progress."""

from __future__ import annotations

import statistics
import time

#: Spark's per-trigger phases (StreamingQueryProgress.durationMs) the
#: benchmark reports, by the per-layer metric name they feed
PROGRESS_PHASES = {
    "runtime.trigger_s": "triggerExecution",
    "runtime.add_batch_s": "addBatch",
    "runtime.latest_offset_s": "latestOffset",
    "runtime.wal_commit_s": "walCommit",
    "runtime.query_planning_s": "queryPlanning",
}


class Dispatch:
    """foreachBatch callable around one rapid. Its sink, :meth:`sink`,
    stands in for the topic the rapid publishes to: it collects each
    batch's replies into ``replies`` as (batch id, value) and notes when
    they committed. ``cpu`` reads the engine's CPU seconds so far; each
    batch records what it used."""

    def __init__(self, rapid, tracer, jobs, cpu):
        self.rapid = rapid
        self.tracer = tracer
        self.jobs = jobs
        self.cpu = cpu
        self.batches: list[dict] = []
        self.replies: list[tuple[int, str]] = []
        self._batch: dict | None = None

    def sink(self, df) -> None:
        with self.tracer.span("runtime.sink_write") as s:
            values = [row.value for row in df.select("value").collect()]
        self.replies.extend((self._batch["id"], v) for v in values)
        self._batch["sink_s"] += s["seconds"]
        self._batch["commit_ts"] = time.time()

    def __call__(self, df, batch_id: int) -> None:
        self._batch = {"id": batch_id, "start_ts": time.time(), "sink_s": 0.0, "commit_ts": None}
        cpu0 = self.cpu()
        with self.jobs.group("batch") as counts, self.tracer.span(
            "runtime.process_batch"
        ) as s:
            self.rapid.process_batch(df, batch_id)
        self._batch.update(seconds=s["seconds"], cpu_s=self.cpu() - cpu0, **counts)
        self.batches.append(self._batch)

    def start(self, source, checkpoint: str, **trigger):
        return (
            source.writeStream.foreachBatch(self)
            .option("checkpointLocation", checkpoint)
            .trigger(**trigger)
            .start()
        )


def progress_phases(query) -> dict[str, list[float]]:
    """Seconds per phase over the query's triggers that read input."""
    out: dict[str, list[float]] = {k: [] for k in PROGRESS_PHASES}
    for p in query.recentProgress:
        if not p.numInputRows:
            continue
        for metric, phase in PROGRESS_PHASES.items():
            out[metric].append(p.durationMs.get(phase, 0) / 1000.0)
    return out


def batch_layers(batches: list[dict], phases: dict[str, list[float]]) -> dict:
    """Runtime-layer medians over the batches of the traced drains."""

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    out = {
        "runtime.process_batch_s": med([b["seconds"] for b in batches]),
        "runtime.sink_write_s": med([b["sink_s"] for b in batches]),
        "runtime.dispatch_s": med([b["seconds"] - b["sink_s"] for b in batches]),
        "runtime.jobs_per_batch": med([b.get("jobs", 0) for b in batches]),
        "runtime.tasks_per_batch": med([b.get("tasks", 0) for b in batches]),
    }
    out.update({k: med(v) for k, v in phases.items()})
    return out
