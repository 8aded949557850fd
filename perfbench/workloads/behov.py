"""behov_open_loop: the paper's need/solution pattern as a user runs it.
One JSON topic carries ``@behov`` needs of three types; three rivers
(``require_all @behov``, ``forbid @løsning``) filter it, and their
Python ``on_packet`` handlers add ``@løsning`` and republish.

A separate generator process (perfbench/generator.py) writes needs into
the source directory at a fixed rate, whether or not the rapid keeps up
(open loop). The rapid runs on a processing-time trigger longer than a
batch takes, so every batch holds the needs of one trigger interval.

The gated figure is the engine's CPU per need: a batch's CPU seconds
over its rows, median over the batches that start in the measured
window. A batch costs a fixed part (file listing, the multi-river
persist and count, one ``mapInPandas`` per river, the sink write) and a
part per need of about the same size, so a batch whose size followed its
predecessor's duration (back-to-back batches) moved its CPU per batch
and per need both by 10-20% between runs; batches of one trigger
interval hold the same number of needs. CPU leaves out the time a
thread waits for a core: with two of four cores taken by other work,
latency rose by half and batch CPU by a tenth. Latency, from a need's
scheduled creation time to the commit of its reply in the sink, is
reported as context with its sample and batch counts.

The river fan-out over the events rapid (parse once, one verdict branch
per river, the rows a DLQ would receive) is measured by a traced run's
probe over one staged file of it, with four expression event rivers.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter

from pyspark.sql import functions as F

from perfbench import data, generator, harness, stats
from perfbench.streams import Dispatch, batch_layers, progress_phases

#: events staged as the rapid the traced probe reads
N_EVENTS = 8_000
N_FILES = 4
#: needs per second: 600 needs per trigger interval, which a batch
#: processes in about 3 s here (C1-compiled JVM, 4 vCPUs)
RATE = 120.0
TICK = 0.25  # seconds between generator files
#: generator time before the measured window: the stream's first
#: batches, the slowest while the JIT compiles, run in it
LEAD_S = 8.0
#: seconds between reads of the query's progress while it runs
POLL_S = 0.5
DRAIN_TIMEOUT_S = 60.0
#: processing-time trigger, longer than a batch takes (with a margin of
#: about 70% for a slower host), so batches do not run back to back
TRIGGER_S = 5
#: event rivers of the traced probe: cycled ``@event_name``
#: preconditions and required keys. ``discount`` exists only on events
#: worth more than 100, so that river rejects most of its matches.
N_EVENT_RIVERS = 4
VALIDATIONS = (("event_id",), ("value", "user.id"), ("discount",), ("amount", "tags"))
SOLUTION = "@løsning"


def event_rivers():
    from rapids_and_rivers_spark import River
    from rapids_and_rivers_spark.functions import predicates as P

    types, vals = data.EVENT_TYPES, VALIDATIONS
    return [
        River(f"r{i}")
        .precondition(P.require_value("@event_name", types[i % len(types)]))
        .validate(P.require_key(*vals[i % len(vals)]))
        for i in range(N_EVENT_RIVERS)
    ]


def need_river_name(need: str) -> str:
    return f"need_{need}"


def make_solver(need: str):
    """Packet handler for one need type. A factory, not an ``i=i``
    default argument: the runtime counts a defaulted third parameter as
    the metadata slot."""

    def solve(packet, context):
        packet[SOLUTION] = {need: {"user": packet["user_id"], "ok": True}}
        context.publish(packet)

    return solve


def need_rivers():
    from rapids_and_rivers_spark import River
    from rapids_and_rivers_spark.functions import predicates as P

    return [
        River(need_river_name(need))
        .precondition(P.require_all("@behov", [need]), P.forbid(SOLUTION))
        .validate(P.require_key("@behovId", "user_id"))
        .on_packet(make_solver(need))
        for need in generator.NEED_TYPES
    ]


def check_needs(needs: list[list], replies: list[dict]) -> tuple[int, list[str]]:
    """Each need has exactly one reply, caused by it, solving its type.
    Returns the failed need count and a description of the first few."""
    by_cause: dict[str, list[dict]] = {}
    for r in replies:
        by_cause.setdefault(r.get("@forårsaket_av", {}).get("id"), []).append(r)
    bad = []
    for need_id, need, _ in needs:
        got = by_cause.get(need_id, [])
        if len(got) != 1:
            bad.append(f"{need_id}: {len(got)} replies")
        elif need not in (got[0].get(SOLUTION) or {}):
            bad.append(f"{need_id}: reply does not solve {need}")
    return len(bad), bad[:3]


def end_backlog(batches: list[dict], rows: dict[int, int], last_file: float) -> int:
    """The backlog the generator left: the messages read by the first
    batch that started after its last file landed (none when the batch
    running then took them all)."""
    after = [b for b in batches if b["start_ts"] > last_file]
    return rows.get(after[0]["id"], 0) if after else 0


class BehovOpenLoop:
    name = "behov_open_loop"
    unit = "msgs"  # counted by throughput: messages per second of batch time
    warmup_ops = 0  # every operation starts warm (see _warm_up and LEAD_S)

    def __init__(self, seed: int):
        self.seed = seed
        self.inputs = ""
        self.ops = 0
        self.proc: subprocess.Popen | None = None

    def stage(self, spark, inputs: str) -> None:
        from rapids_and_rivers_spark import catalog

        tables = os.path.join(inputs, "tables")
        data.write_tables(tables, self.seed, {"events": N_EVENTS})
        rapid = catalog.events_rapid(spark, tables)
        rapid.select("value").repartition(N_FILES).write.text(os.path.join(inputs, "rapid"))
        self.inputs = inputs

    def _generate(self, run, d: str, start: float, seconds: float) -> subprocess.Popen:
        args = {
            "out": os.path.join(d, "src"),
            "tmp": os.path.join(d, "gen_tmp"),
            "manifest": os.path.join(d, "manifest.json"),
            "rate": RATE,
            "tick": TICK,
            "start": start,
            "seconds": seconds,
            "seed": self.seed * 1000 + self.ops,
        }
        cmd = [sys.executable, os.path.join(run.root, "perfbench", "generator.py")]
        for k, v in args.items():
            cmd += [f"--{k}", repr(v) if isinstance(v, float) else str(v)]
        return subprocess.Popen(cmd)

    def _warm_up(self, run) -> None:
        """Dispatch one small static batch of needs through the same
        rivers into a collecting sink, so the measured stream starts with
        every plan compiled and the Python workers running."""
        from rapids_and_rivers_spark.streaming.runtime import StreamingRapid

        lines = [
            generator.need_message(-1, j, generator.NEED_TYPES[j % 3], 0.0, j)
            for j in range(240)
        ]
        rapid = StreamingRapid(run.spark, service_name="perfbench", instance_id="warm-up")
        rapid.set_sink(lambda df: df.select("value").collect())
        for river in need_rivers():
            rapid.register(river)
        batch = run.spark.createDataFrame([(v, None) for v in lines], "value string, key string")
        rapid.process_batch(batch, 0)

    def op(self, run, tracer, jobs) -> dict:
        from rapids_and_rivers_spark.streaming.runtime import StreamingRapid

        spark = run.spark
        spark.catalog.clearCache()
        self.ops += 1
        d = run.path(f"loop{self.ops}")
        os.makedirs(os.path.join(d, "src"))
        os.makedirs(os.path.join(d, "gen_tmp"))
        if self.ops == 1:
            self._warm_up(run)
        source = spark.readStream.text(os.path.join(d, "src")).select(
            "value", F.lit(None).cast("string").alias("key")
        )
        rapid = StreamingRapid(spark, service_name="perfbench", instance_id="rapid")
        rapid.set_source(source)
        timer = rapid.enable_packet_timers() if tracer.enabled else None
        dispatch = Dispatch(rapid, tracer, jobs, lambda: harness.cpu_seconds(run.jvm_pid))
        rapid.set_sink(dispatch.sink)
        for river in need_rivers():
            rapid.register(river)
        query = dispatch.start(source, os.path.join(d, "ckpt"), processingTime=f"{TRIGGER_S} seconds")
        start = time.time() + 1.0
        window = (start + LEAD_S, start + LEAD_S + run.seconds)
        self.proc = self._generate(run, d, start, LEAD_S + run.seconds)
        rows: dict[int, int] = {}

        def processed() -> int:
            if query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {query.exception()}")
            for p in query.recentProgress:
                rows[p.batchId] = p.numInputRows
            return sum(rows.values())

        try:
            while self.proc.poll() is None:
                processed()
                time.sleep(POLL_S)
            if self.proc.returncode != 0:
                raise RuntimeError(f"generator exited with {self.proc.returncode}")
            with open(os.path.join(d, "manifest.json")) as f:
                manifest = json.load(f)
            emitted = len(manifest["needs"])
            deadline = time.time() + DRAIN_TIMEOUT_S
            while processed() < emitted and time.time() < deadline:
                time.sleep(POLL_S)
            drain_end = time.time()
        finally:
            query.stop()
            query.awaitTermination()
            self.close()
        processed()
        busy = [b for b in dispatch.batches if rows.get(b["id"])]
        return {
            "window": window,
            "cpu": [
                b["cpu_s"] / rows[b["id"]] for b in busy if window[0] <= b["start_ts"] < window[1]
            ],
            "manifest": manifest,
            "backlog": end_backlog(
                dispatch.batches, rows, window[1] + manifest["lateness"][-1]
            ),
            "batch_rows": [rows.get(b["id"], 0) for b in dispatch.batches],
            "drain_end": drain_end,
            # throughput while busy: messages per second of batch time
            "items": sum(rows.get(b["id"], 0) for b in busy),
            "seconds": sum(b["seconds"] for b in busy),
            "batches": dispatch.batches,
            "replies": dispatch.replies,
            "phases": progress_phases(query),
            "timer": timer.snapshot() if timer else {},
            "attempted": emitted,
        }

    def check(self, run, op) -> list[str]:
        """Check every need's reply and fill the op's latency samples:
        scheduled time to reply commit, for needs due in the measured
        window, and the number of batches that committed them. A need
        left without its reply fails, and counts as a sample lasting to
        the end of the drain."""
        replies = [(json.loads(v), b) for b, v in op["replies"]]
        needs = op["manifest"]["needs"]
        op["failed"], problems = check_needs(needs, [r for r, _ in replies])

        lo, hi = op["window"]
        commit = {b["id"]: b["commit_ts"] for b in op["batches"]}
        timed = [(r["sched_ts"], b) for r, b in replies if lo <= r["sched_ts"] < hi]
        answered = {r.get("@forårsaket_av", {}).get("id") for r, _ in replies}
        op["sample_batches"] = len({b for _, b in timed})
        op["samples"] = [commit[b] - sched for sched, b in timed] + [
            op["drain_end"] - sched
            for need_id, _, sched in needs
            if need_id not in answered and lo <= sched < hi
        ]
        return problems

    def layers(self, run, ops, tracer) -> dict:
        batches = [b for op in ops for b in op["batches"]]
        run.context["layer_samples"] = {"batches": len(batches)}
        phases = {k: [x for op in ops for x in op["phases"][k]] for k in ops[0]["phases"]}
        out = batch_layers(batches, phases)
        lateness = [x for op in ops for x in op["manifest"]["lateness"]]
        out.update(
            {
                "packet.listener_s": sum(
                    t["total_seconds"] for op in ops for t in op["timer"].values()
                ),
                "packet.replies": sum(
                    t["count"] for op in ops for t in op["timer"].values()
                ),
                "generator.lateness_p50_s": stats.percentile(lateness, 50.0),
                "generator.lateness_max_s": max(lateness),
                "generator.backlog": sum(op["backlog"] for op in ops),
            }
        )
        out.update(self.probe(run, tracer))
        return out

    def probe(self, run, tracer) -> dict:
        """River fan-out costs on one staged file of the events rapid,
        each materialized alone: the parse, then every event river's
        verdicts over the cached parse."""
        from rapids_and_rivers_spark.functions import json_ops as J
        from rapids_and_rivers_spark.river import VARIANT_COL, VERDICT_COL, Verdict

        spark = run.spark
        rapid_dir = os.path.join(self.inputs, "rapid")
        first = sorted(f for f in os.listdir(rapid_dir) if f.startswith("part-"))[0]
        raw = spark.read.text(os.path.join(rapid_dir, first))
        with tracer.span("json_ops.parse") as parse:
            raw.select(J.parse(F.col("value")).alias("v")).write.format("noop").mode(
                "overwrite"
            ).save()
        parsed = raw.withColumn(VARIANT_COL, J.parse(F.col("value"))).persist()
        parsed.count()
        verdicts: Counter = Counter()
        with tracer.span("river.evaluate") as evaluate:
            for river in event_rivers():
                for row in river.evaluate(parsed).groupBy(VERDICT_COL).count().collect():
                    verdicts[row[0]] += row[1]
        parsed.unpersist()
        return {
            "json_ops.parse_s": parse["seconds"],
            "river.evaluate_s": evaluate["seconds"],
            "river.pass_ratio": verdicts[Verdict.PASS] / sum(verdicts.values()),
            # every rejected row is one a DLQ sink would receive
            "river.dlq_rows": sum(verdicts.values()) - verdicts[Verdict.PASS],
        }

    def close(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.terminate()
        if self.proc is not None:
            self.proc.wait()

