"""StreamingRapid — the Structured Streaming execution of the bus.

Reference lifecycle (SURVEY.md §3.1, KafkaRapid.kt:176-201): poll →
per-record dispatch through every river → handlers enrich + republish →
commit offsets after processing (at-least-once).

Spark mapping: a streaming source of ``(value, key, ...)`` rows; each
micro-batch runs every registered river over the batch DataFrame
(parse ONCE, shared across rivers — the reference re-parses per river,
River.kt:53-55), unions all reply DataFrames into the publish sink, and
routes non-passing verdicts to a DLQ sink. Offset tracking is Structured
Streaming checkpointing (WAL): restart resumes after the last committed
batch — the reference's commit-after-process loop (KafkaRapid.kt:132-158)
becomes checkpoint-commit-after-batch, preserving at-least-once into the
sinks.

Handler execution model:
- ``river.respond(fn)``   expression responders — full Catalyst plan,
                          one sink-plan branch per responder, scalable
                          path;
- ``river.on_packet(fn)`` imperative Python handlers — executed on the
                          EXECUTORS in ONE packet stage per batch, shared
                          by every packet river: a projection tags each
                          row with the packet rivers it passes, and one
                          ``mapInPandas`` (Arrow batches) runs each
                          passing river's listeners on a fresh
                          :class:`Packet` with a collecting publish
                          context. The stage is sized by rows
                          (``ROWS_PER_BRANCH_TASK``), since every Python
                          task pays a fixed start-up cost (~0.03-0.04
                          worker CPU-s under the engine's worker daemon,
                          :mod:`rapids_and_rivers_spark.executor`;
                          0.16-0.18 s without it). No driver-side
                          collect of message payloads.
"""

from __future__ import annotations

import uuid as _uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from rapids_and_rivers_spark.rapid import AbstractRapid
from rapids_and_rivers_spark.river import ERRORS_COL, VARIANT_COL, VERDICT_COL, River, Verdict

REPLY_SCHEMA = "value string, key string"

#: metadata columns forwarded to packet listeners when the source carries
#: them (the Kafka source always does; file/memory sources don't)
META_COLS = ("topic", "partition", "offset", "timestamp", "headers")


@dataclass(frozen=True)
class MessageMetadata:
    """MessageMetadata.kt:3-9 parity: the record coordinates handed to
    every packet listener alongside the message. ``headers`` is the
    Kafka header list decoded to ``{key: bytes}`` (the reference's
    ``Map<String, ByteArray>``); empty when the source carries none."""

    topic: str | None = None
    partition: int | None = None
    offset: int | None = None
    key: str | None = None
    timestamp: object | None = None
    headers: dict | None = None


def _wants_metadata(fn) -> bool:
    """True if the listener accepts a third (metadata) parameter —
    RapidsConnection.kt:112 signature; two-arg listeners stay supported.
    A defaulted parameter (``lambda packet, ctx, i=i: ...``) is not the
    metadata slot: the runtime never fills it."""
    import inspect

    try:
        params = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.kind
            in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD, p.VAR_POSITIONAL)
        ]
    except (TypeError, ValueError):
        return False
    if any(p.kind == p.VAR_POSITIONAL for p in params):
        return True
    return sum(p.default is p.empty for p in params) >= 3


def listener_label(river: River, fn, index: int) -> str:
    """Stable timer label for a packet listener: river/name (PacketListener
    .name() analog — function name, or class name for callables)."""
    name = getattr(fn, "__name__", None) or type(fn).__name__
    return f"{river.name}/{index}:{name}"


#: per-row indexes of the packet rivers a message passes (packet stage input)
RIVERS_COL = "__packet_rivers"


def run_packet_stage(
    parsed: DataFrame,
    rivers: list[River],
    service_name: str | None,
    instance_id: str | None,
    timer=None,
    span_hook=None,
) -> DataFrame:
    """Execute every packet river's Python handlers in ONE executor pass.

    One projection over the parsed batch (``__variant`` attached) adds
    the indexes of the rivers in ``rivers`` whose verdict is PASS; rows
    passing none are dropped. Each river's test is its
    :meth:`River.pass_expr`: one flat boolean over its rules, equal to
    ``verdict == pass`` but without the verdict's error arrays, built
    once per river and reused by every micro-batch (the reference fixes
    a river's rules at construction, River.kt:18-35). A single
    Arrow-batched ``mapInPandas`` then hands each (row, passing river) a FRESH :class:`Packet` — the
    reference parses a message once per river (River.kt:53-55), so a
    field one river's listener sets never reaches another river. Each
    river keeps its declared keys, listener order, timers and span
    labels; handler ``publish`` calls are collected and stamped with
    causation + fresh id (JsonMessageContext semantics) after the
    river's last listener has run.

    With a :class:`~rapids_and_rivers_spark.metrics.PacketTimer`, each
    listener call is timed executor-side (`on_packet_seconds` parity,
    River.kt:79-88) — accumulator pairs are materialized here, on the
    driver, before the closure ships.

    ``span_hook`` is the tracing analog of the reference's
    ``tracer.spanBuilder`` wrap around each listener (River.kt:74-76): a
    picklable callable ``(river_name, listener_label, duration_seconds)``
    invoked EXECUTOR-SIDE immediately after each listener call — in
    production its body opens/closes an OTel span (or writes to any
    tracing backend reachable from the executor); it must not assume
    driver state.

    The record-scope MDC (KafkaRapid.kt:160-161) wraps one record's
    dispatch through all of its rivers, as the reference's does.

    The stage runs once per trigger, so its task's fixed cost is paid on
    every trigger. The engine's worker daemon
    (:mod:`rapids_and_rivers_spark.executor`, set by ``build_session``)
    keeps that cost at ~0.03-0.04 worker CPU-s instead of 0.16-0.18 s
    (``ROWS_PER_BRANCH_TASK`` has the measurement).
    """
    specs = []
    for river in rivers:
        listeners = river.listeners
        labels = [listener_label(river, fn, i) for i, fn in enumerate(listeners)]
        specs.append(
            (
                river.name,
                list(river.declared_keys),
                listeners,
                labels,
                [timer.pair(label) for label in labels] if timer is not None else None,
                # metadata plumbing (RapidsConnection.kt:112): arity
                # inspected ONCE, driver-side
                [_wants_metadata(fn) for fn in listeners],
            )
        )
    # listeners declaring a third parameter receive MessageMetadata built
    # from whichever record coordinates the source carries
    meta_cols = (
        [c for c in META_COLS if c in parsed.columns]
        if any(any(wants) for *_, wants in specs)
        else []
    )
    passed = F.array_compact(
        F.array(*(F.when(river.pass_expr(), F.lit(i)) for i, river in enumerate(rivers)))
    )
    routed = parsed.select("value", "key", *meta_cols, passed.alias(RIVERS_COL)).filter(
        F.size(RIVERS_COL) > 0
    )

    def gen(batches):
        import time as _time

        import pandas as pd

        from rapids_and_rivers_spark.logcontext import record_diagnostics, with_mdc
        from rapids_and_rivers_spark.packet import Packet
        from rapids_and_rivers_spark.problems import MessageProblemsException

        for pdf in batches:
            out_vals: list[str] = []
            out_keys: list[str | None] = []
            meta_rows = (
                list(zip(*(pdf[c] for c in meta_cols))) if meta_cols else None
            )
            for row_i, (value, key, passing) in enumerate(
                zip(pdf["value"], pdf["key"], pdf[RIVERS_COL])
            ):
                meta_vals = (
                    dict(zip(meta_cols, meta_rows[row_i])) if meta_rows else {}
                )
                hdrs = meta_vals.get("headers")
                if hdrs is not None:
                    # Kafka header array<struct<key,value>> -> {key: bytes}
                    # (MessageMetadata.kt: Map<String, ByteArray>); a null
                    # array arrives as None or NaN depending on Arrow path
                    try:
                        meta_vals["headers"] = {h["key"]: h["value"] for h in hdrs}
                    except TypeError:
                        meta_vals["headers"] = None
                with with_mdc(record_diagnostics(value)):
                    for r in passing:
                        river_name, declared, listeners, labels, pairs, wants_meta = specs[r]
                        try:
                            packet = Packet(
                                value, service_name=service_name, instance_id=instance_id
                            )
                        except MessageProblemsException:
                            continue
                        packet.declare(*declared)
                        published: list[tuple[str | Packet, str | None]] = []

                        class _Ctx:
                            def publish(self, message, key_override=None):
                                published.append((message, key_override))

                        ctx = _Ctx()
                        meta = (
                            MessageMetadata(key=key, **meta_vals) if any(wants_meta) else None
                        )
                        for i, fn in enumerate(listeners):
                            args = (packet, ctx, meta) if wants_meta[i] else (packet, ctx)
                            if pairs is None and span_hook is None:
                                fn(*args)
                            else:
                                t0 = _time.perf_counter()
                                fn(*args)
                                dt = _time.perf_counter() - t0
                                if pairs is not None:
                                    count_acc, sec_acc = pairs[i]
                                    count_acc.add(1)
                                    sec_acc.add(dt)
                                if span_hook is not None:
                                    span_hook(river_name, labels[i], dt)
                        for message, key_override in published:
                            reply = (
                                message
                                if isinstance(message, Packet)
                                else Packet(message, stamp=False)
                            )
                            packet.populate_standard_fields(reply)
                            out_vals.append(reply.to_json())
                            out_keys.append(key_override if key_override is not None else key)
            yield pd.DataFrame({"value": out_vals, "key": out_keys})

    return routed.mapInPandas(gen, REPLY_SCHEMA)


class StreamingRapid(AbstractRapid):
    """Source-agnostic streaming rapid.

    Wire a streaming source with :meth:`set_source` (or use the file/kafka
    factories), sinks with :meth:`set_sink`/:meth:`set_dlq`, register
    rivers, then :meth:`start`.
    """

    def __init__(
        self,
        spark: SparkSession,
        service_name: str | None = None,
        instance_id: str | None = None,
    ):
        super().__init__(service_name, instance_id)
        self.spark = spark
        self._source: DataFrame | None = None
        self._sink: Callable[[DataFrame], None] | None = None
        self._dlq: Callable[[DataFrame], None] | None = None
        self._raw_listeners: list[Callable[[DataFrame], None]] = []
        self.packet_timer = None
        self.span_hook = None

    def use_rocksdb_state(self, max_memory_mb: int | None = None) -> "StreamingRapid":
        """Pin this rapid's stateful operators to the RocksDB state
        store (streaming/state.py — the default under
        :func:`~rapids_and_rivers_spark.session.build_session`; call
        this when the session was built elsewhere). Executor state
        memory becomes a configured constant instead of O(keys);
        ``max_memory_mb`` sizes the shared RocksDB budget."""
        from rapids_and_rivers_spark.streaming.state import enable_rocksdb_state

        enable_rocksdb_state(self.spark, max_memory_mb=max_memory_mb)
        return self

    def set_span_hook(self, fn) -> "StreamingRapid":
        """Install the per-listener tracing hook (River.kt:74-76 analog):
        ``fn(river_name, listener_label, duration_seconds)`` fires on the
        executor after every packet-listener call. See
        :func:`run_packet_stage`."""
        self.span_hook = fn
        return self

    def enable_packet_timers(self):
        """Turn on per-listener wall-time metrics (on_packet_seconds parity,
        River.kt:79-88); returns the :class:`PacketTimer` whose
        ``snapshot()`` yields {river/listener: {count, total_seconds}}."""
        from rapids_and_rivers_spark.metrics import PacketTimer

        self.packet_timer = PacketTimer(self.spark)
        return self.packet_timer

    # -- wiring ----------------------------------------------------------------

    def set_source(self, df: DataFrame) -> "StreamingRapid":
        """Streaming DataFrame with at least ``value: string``; a ``key``
        column is added (NULL) if absent."""
        if "key" not in df.columns:
            df = df.withColumn("key", F.lit(None).cast("string"))
        self._source = df
        return self

    @classmethod
    def from_text_files(
        cls,
        spark: SparkSession,
        path: str,
        service_name: str | None = None,
        instance_id: str | None = None,
    ) -> "StreamingRapid":
        """File-based rapid: each line of each file is one message (the
        in-container stand-in for a Kafka topic; same runtime semantics)."""
        rapid = cls(spark, service_name, instance_id)
        src = spark.readStream.format("text").load(path).select(
            F.col("value").cast("string").alias("value")
        )
        return rapid.set_source(src)

    def set_sink_parquet(self, path: str) -> "StreamingRapid":
        def write(df: DataFrame) -> None:
            df.write.mode("append").parquet(path)

        self._sink = write
        return self

    def set_sink_parquet_idempotent(self, path: str) -> "StreamingRapid":
        """Replay-safe sink: rows land under a ``__batch_id`` partition and
        a re-run of the same micro-batch OVERWRITES only its own partition
        (dynamic partition overwrite). Checkpoint at-least-once redelivery
        thus becomes exactly-once *effective* delivery into the table —
        the idempotent-sink half of Structured Streaming's contract (the
        Kafka sink stays at-least-once, matching the reference)."""

        def write(df: DataFrame) -> None:
            (
                df.withColumn("__batch_id", F.lit(self._current_batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__batch_id")
                .parquet(path)
            )

        self._sink = write
        return self

    def set_sink(self, fn: Callable[[DataFrame], None]) -> "StreamingRapid":
        self._sink = fn
        return self

    def set_dlq_parquet(self, path: str) -> "StreamingRapid":
        def write(df: DataFrame) -> None:
            df.write.mode("append").parquet(path)

        self._dlq = write
        return self

    def on_raw_batch(self, fn: Callable[[DataFrame], None]) -> "StreamingRapid":
        """Raw-string listener (U5 surface, RapidsConnection.kt:111-113)."""
        self._raw_listeners.append(fn)
        return self

    # -- batch dispatch (the heart of the runtime) -----------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int = 0) -> None:
        """One micro-batch through every river (also usable on batch DFs —
        batch/stream duality). The whole dispatch runs inside an MDC poll
        scope (KafkaRapid.kt:183-187) so driver log lines carry the batch
        diagnostics."""
        from rapids_and_rivers_spark.logcontext import poll_diagnostics, with_mdc

        with with_mdc(poll_diagnostics(batch_id)):
            self._process_batch_inner(batch_df, batch_id)

    #: rows per task of a sink-plan branch: batches smaller than
    #: branches x this many rows coalesce the cached parse so branch
    #: scans aren't scheduler-bound (AQE can't do this inside a
    #: streaming batch), and the packet stage runs ceil(rows / this)
    #: tasks. A Python task still has a fixed cost whatever its rows.
    #: One-partition mapInPandas jobs on 4 cores (15 GB, local[4]) under
    #: the engine's worker daemon, median worker CPU per task / job
    #: wall: 50 rows 0.03 / 0.13 s, 20k rows 0.03-0.04 / 0.10-0.11 s;
    #: 600 rows over 12 tasks 0.36-0.48 CPU-s / 0.30-0.33 s. Under
    #: PySpark's own daemon the same jobs took 0.16-0.18 CPU-s per task
    #: and 0.19-0.27 s, and 1.9-2.1 CPU-s / 0.68-0.70 s over 12 tasks:
    #: every task's importlib.invalidate_caches() (PySpark's
    #: setup_spark_files) re-read the pyspark.zip directory once per zip
    #: finder, ~16 per worker; the engine's daemon drops those finders
    #: before each task (rapids_and_rivers_spark.executor).
    ROWS_PER_BRANCH_TASK = 20_000

    def _process_batch_inner(self, batch_df: DataFrame, batch_id: int) -> None:
        self._current_batch_id = batch_id
        # tombstone skip (KafkaRapid.kt:162-163)
        msgs = batch_df.filter(F.col("value").isNotNull() & (F.length("value") > 0))
        for fn in self._raw_listeners:
            fn(msgs)
        # parse ONCE per batch; every branch and the DLQ union read the
        # cached parsed batch instead of re-scanning + re-parsing the
        # source per river
        from rapids_and_rivers_spark.functions import json_ops as J

        parsed = msgs.withColumn(VARIANT_COL, J.parse(F.col("value")))
        packet_rivers = [r for r in self._rivers if r.listeners]
        # branches of the sink plan: one per river with responders or
        # with no packet listeners, plus ONE packet stage shared by every
        # packet river
        branches = sum(1 for r in self._rivers if r.responders or not r.listeners) + (
            1 if packet_rivers else 0
        )
        cached = None
        if branches > 1 or packet_rivers:
            parsed = cached = parsed.persist()
            # The union sink plan has one branch per river (one for all
            # packet rivers), and AQE is unavailable inside a streaming
            # batch — so at N branches the write costs N x partitions
            # tasks regardless of batch size. For small/medium batches
            # that is pure scheduler overhead (measured: 100 rivers over
            # a 5k-message batch = 3200 near-empty tasks, 7x the useful
            # wall). Right-size the cached batch ONCE (count is one
            # cheap action that also materializes the cache) and let
            # every branch read the narrowed cache; big batches keep
            # full parallelism.
            #
            # NOTE a fused all-rivers verdict projection (SURVEY §4's
            # routing-bitmap sketch) was built and MEASURED 7-8x worse
            # for expression responders: branches only ever evaluate
            # their own rule set, so fusing saves no work — it just
            # turns 100 small codegen'd branch predicates into one
            # 100-struct projection (codegen blowup) and a 100x wider
            # cache. Negative result recorded in bench.py's river_fanout
            # row history (round 6). Packet rivers ARE fused (see
            # run_packet_stage): there the fixed cost of each Python
            # task, not the predicates, dominates.
            n = parsed.count()
            parts = parsed.rdd.getNumPartitions()
            # per-branch partitions: every branch's tasks compete in ONE
            # union stage, so give each branch ~its fair share of 3x the
            # cores (3x for stragglers), floored by data volume so huge
            # batches always keep full row parallelism
            cores = self.spark.sparkContext.defaultParallelism
            fair = max(1, (3 * cores) // branches)
            floor = -(-n // self.ROWS_PER_BRANCH_TASK)
            target = min(parts, max(fair, floor))
            if target < parts:
                parsed = parsed.coalesce(target)
            # the Python stage is sized by rows alone: its tasks pay a
            # fixed cost that no fair share of cores wins back
            packet_parts = max(1, min(parts, floor))
        replies: list[DataFrame] = []
        dlq_parts: list[DataFrame] = []
        for river in self._rivers:
            if not river.responders and self._dlq is None:
                # only the packet stage reads this river, through its
                # flat pass test; the verdict struct would only add
                # projection work (both are memoised on the river, so
                # neither is rebuilt per batch)
                continue
            evaluated = river.evaluate(parsed)
            passing = evaluated.filter(F.col(VERDICT_COL) == Verdict.PASS)
            for responder in river.responders:
                replies.append(responder(passing).select("value", "key"))
            if self._dlq is not None:
                dlq_parts.append(
                    evaluated.filter(F.col(VERDICT_COL) != Verdict.PASS).select(
                        F.lit(river.name).alias("river"),
                        VERDICT_COL,
                        F.col(ERRORS_COL).cast("array<string>").alias(ERRORS_COL),
                        "value",
                        "key",
                    )
                )
        if packet_rivers:
            replies.append(
                run_packet_stage(
                    parsed.coalesce(packet_parts),
                    packet_rivers,
                    self.service_name,
                    self.instance_id,
                    timer=self.packet_timer,
                    span_hook=self.span_hook,
                )
            )
        try:
            if replies and self._sink is not None:
                out = replies[0]
                for r in replies[1:]:
                    out = out.unionByName(r)
                self._sink(out)
            if dlq_parts and self._dlq is not None:
                dlq = dlq_parts[0]
                for d in dlq_parts[1:]:
                    dlq = dlq.unionByName(d)
                self._dlq(dlq)
        finally:
            if cached is not None:
                cached.unpersist()

    def replay_dlq(
        self, spark: SparkSession, dlq_path: str, river_name: str | None = None
    ) -> int:
        """Re-dispatch dead-letter messages through the registered
        (presumably fixed) rivers and return how many were replayed.

        Reads the DLQ parquet written by :meth:`set_dlq_parquet`,
        optionally filtered to the river that rejected them, and runs
        one batch dispatch over the original ``(value, key)`` pairs —
        batch/stream duality means full streaming semantics apply:
        verdicts re-evaluate, listeners/responders fire, replies hit the
        sink, and still-failing messages route to THIS rapid's DLQ.
        Point :meth:`set_dlq_parquet` at a fresh path before replaying,
        or survivors of the replay append next to their originals.

        This is the operational other half of the reference's error
        channel: the reference logs rejections (River.kt onError) and
        leaves replay to the operator; here the DLQ is a table and
        replay is one call.
        """
        df = spark.read.parquet(dlq_path)
        if river_name is not None:
            df = df.filter(F.col("river") == river_name)
        n = df.count()
        if n:
            self.process_batch(df.select("value", "key"), batch_id=-1)
        return n

    # -- lifecycle -------------------------------------------------------------

    def start(
        self,
        checkpoint_dir: str,
        available_now: bool = True,
        processing_time: str | None = None,
        query_name: str | None = None,
    ):
        """Start the streaming query (checkpointed foreachBatch dispatch).

        ``available_now=True`` drains everything available then stops —
        the test/batch-replay trigger; pass ``processing_time`` (e.g.
        ``'1 second'``, matching the reference's poll cadence,
        KafkaRapid.kt:183) for a continuous micro-batch schedule.
        """
        if self._source is None:
            raise ValueError("no source configured")
        writer = (
            self._source.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .queryName(query_name or f"rapid_{_uuid.uuid4().hex[:8]}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_available(self, checkpoint_dir: str) -> None:
        """Drain all available input and wait (the poll-until-empty loop)."""
        query = self.start(checkpoint_dir, available_now=True)
        query.awaitTermination()

    @staticmethod
    def stop_gracefully(query) -> None:
        """Graceful shutdown (R10, PreStopHook.kt:17-67 + KafkaRapid.kt:
        113-119): stop the trigger loop; the in-flight micro-batch finishes
        and commits its checkpoint, so restart resumes AFTER the last
        processed record (the reference's commit-next-offset-on-shutdown,
        RapidIntegrationTest.kt:205-276)."""
        query.stop()
        query.awaitTermination()
