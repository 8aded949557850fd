"""Streaming runtime semantics, mirroring RapidIntegrationTest.kt (SURVEY.md
§5.2) on a file-based rapid (no broker in the container):

- consume -> enrich -> republish round trip
- checkpoint restart: already-processed input is NOT redelivered
- tombstone/empty-message skip
- Python packet handlers executed via mapInPandas with envelope stamping
- DLQ routing of failed verdicts
- Kafka option builders (env contract)
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from rapids_and_rivers_spark.functions import envelope as E
from rapids_and_rivers_spark.river import River
from rapids_and_rivers_spark.functions import predicates as P
from rapids_and_rivers_spark.streaming.kafka import (
    KafkaConfig,
    consumer_options,
    producer_options,
)
from rapids_and_rivers_spark.streaming.pingpong import pingpong_river
from rapids_and_rivers_spark.streaming.runtime import StreamingRapid


def write_messages(path: str, messages: list[str], name: str = "batch0.txt"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write("\n".join(messages) + "\n")


def read_parquet_values(spark, path):
    try:
        return [r.value for r in spark.read.parquet(path).collect()]
    except Exception:
        return []


def test_roundtrip_enrich_republish(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    write_messages(
        src,
        [
            json.dumps({"@event_name": "order", "order_id": i, "status": "new"})
            for i in range(20)
        ],
    )
    river = River("orders").precondition(P.require_value("@event_name", "order")).validate(
        P.require_key("order_id")
    )

    def responder(passing):
        m = E.to_message_map(F.col("value"))
        reply = E.merge(
            m,
            {
                "@event_name": E.vlit("order_enriched"),
                "status": E.vlit("processed"),
            },
        )
        return passing.select(
            E.to_json_message(E.stamp_reply(reply, m)).alias("value"), "key"
        )

    river.respond(responder)
    rapid = (
        StreamingRapid.from_text_files(spark, src, "app", "i-1")
        .register(river)
        .set_sink_parquet(out)
    )
    rapid.run_available(ckpt)

    values = [json.loads(v) for v in read_parquet_values(spark, out)]
    assert len(values) == 20
    assert all(v["@event_name"] == "order_enriched" for v in values)
    assert all(v["status"] == "processed" for v in values)
    assert all(v["@forårsaket_av"]["event_name"] == "order" for v in values)
    assert all("@id" in v for v in values)
    # original payload preserved through the open-schema merge
    assert sorted(v["order_id"] for v in values) == list(range(20))


def test_checkpoint_no_redelivery(spark, tmp_path):
    """The reference commits offsets after processing so restarts resume
    after the last processed record (RapidIntegrationTest.kt:205-276);
    our equivalent: checkpoint restart must not reprocess drained input."""
    src, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    write_messages(src, [json.dumps({"@event_name": "a", "n": 1})], "first.txt")
    river = River("all").validate(P.require_key("@event_name"))
    river.respond(
        lambda passing: passing.select(F.col("value").alias("value"), "key")
    )
    rapid = (
        StreamingRapid.from_text_files(spark, src, "app", "i-1")
        .register(river)
        .set_sink_parquet(out)
    )
    rapid.run_available(ckpt)
    assert len(read_parquet_values(spark, out)) == 1

    # restart with no new input: nothing redelivered
    rapid2 = (
        StreamingRapid.from_text_files(spark, src, "app", "i-1")
        .register(river)
        .set_sink_parquet(out)
    )
    rapid2.run_available(ckpt)
    assert len(read_parquet_values(spark, out)) == 1

    # new input after restart: only the new message flows
    write_messages(src, [json.dumps({"@event_name": "b", "n": 2})], "second.txt")
    rapid3 = (
        StreamingRapid.from_text_files(spark, src, "app", "i-1")
        .register(river)
        .set_sink_parquet(out)
    )
    rapid3.run_available(ckpt)
    values = read_parquet_values(spark, out)
    assert len(values) == 2


def test_tombstone_and_garbage_skip(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    dlq = str(tmp_path / "dlq")
    write_messages(
        src,
        ["", json.dumps({"@event_name": "x"}), "not json at all", ""],
    )
    river = River("x").validate(P.require_value("@event_name", "x"))
    river.respond(lambda passing: passing.select("value", "key"))
    rapid = (
        StreamingRapid.from_text_files(spark, src, "app", "i-1")
        .register(river)
        .set_sink_parquet(out)
        .set_dlq_parquet(dlq)
    )
    rapid.run_available(ckpt)
    assert len(read_parquet_values(spark, out)) == 1
    dlq_rows = spark.read.parquet(dlq).collect()
    # 'not json at all' -> unparseable; empty lines are tombstone-skipped
    assert [(r.verdict, r.river) for r in dlq_rows] == [("unparseable", "x")]


def test_python_packet_handlers_on_executors(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    write_messages(
        src,
        [json.dumps({"@event_name": "need", "req": i}) for i in range(5)],
    )
    river = River("needs").validate(
        P.require_value("@event_name", "need"), P.require_key("req")
    )

    def handler(packet, context):
        packet["solved"] = packet["req"] * 10
        packet["@event_name"] = "solution"
        context.publish(packet)

    river.on_packet(handler)
    rapid = (
        StreamingRapid.from_text_files(spark, src, "app", "i-1")
        .register(river)
        .set_sink_parquet(out)
    )
    rapid.run_available(ckpt)
    values = [json.loads(v) for v in read_parquet_values(spark, out)]
    assert len(values) == 5
    assert sorted(v["solved"] for v in values) == [0, 10, 20, 30, 40]
    assert all(v["@event_name"] == "solution" for v in values)
    # envelope: parse-stamp (read_count, provenance) + reply causation
    assert all(v["system_read_count"] == 0 for v in values)
    assert all(v["@forårsaket_av"]["event_name"] == "need" for v in values)


def test_dlq_replay_after_fix(spark, tmp_path):
    """Operational error-channel closure: messages rejected into the DLQ
    are replayed through a FIXED river with one call — newly-passing
    messages produce replies; still-broken ones land in the replay
    rapid's own DLQ."""
    src = str(tmp_path / "in")
    out1, dlq1, ck1 = (str(tmp_path / p) for p in ("out1", "dlq1", "ck1"))
    write_messages(
        src,
        [
            json.dumps({"@event_name": "order", "amount": 5}),
            # rejected by v1 (missing 'amount'), fine for v2
            json.dumps({"@event_name": "order", "amt": 7}),
            # broken for both versions
            json.dumps({"@event_name": "other"}),
        ],
    )
    strict = River("orders").validate(
        P.require_value("@event_name", "order"), P.require_key("amount")
    )
    strict.respond(
        lambda p: p.select(F.lit('{"ok":1}').alias("value"), F.col("key"))
    )
    rapid1 = (
        StreamingRapid.from_text_files(spark, src, "app", "i-1")
        .register(strict)
        .set_sink_parquet(out1)
        .set_dlq_parquet(dlq1)
    )
    rapid1.run_available(ck1)
    assert len(read_parquet_values(spark, out1)) == 1  # only the valid order
    assert spark.read.parquet(dlq1).count() == 2

    # the FIX: accept amt as an alternative; replay the dead letters
    out2, dlq2 = str(tmp_path / "out2"), str(tmp_path / "dlq2")
    fixed = River("orders").validate(
        P.require_value("@event_name", "order"), P.require_key("amt")
    )
    fixed.respond(
        lambda p: p.select(F.lit('{"ok":1}').alias("value"), F.col("key"))
    )
    rapid2 = (
        StreamingRapid(spark, "app", "i-2")
        .register(fixed)
        .set_sink_parquet(out2)
        .set_dlq_parquet(dlq2)
    )
    replayed = rapid2.replay_dlq(spark, dlq1, river_name="orders")
    assert replayed == 2
    assert len(read_parquet_values(spark, out2)) == 1  # the amt=7 order now passes
    still_dead = spark.read.parquet(dlq2)
    assert still_dead.count() == 1  # the 'other' message remains dead


def test_listener_exception_crash_stops_the_query(spark, tmp_path):
    """Crash-stop parity (S7, KafkaRapid.kt consume loop): an exception
    escaping a packet listener FAILS the streaming query — errors are
    never silently swallowed; the supervisor (k8s) restarts from the
    checkpoint. (Validation failures route to the DLQ; exceptions are
    bugs and must crash.)"""
    src, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    write_messages(src, [json.dumps({"@event_name": "need", "req": 1})])
    river = River("needs").validate(P.require_value("@event_name", "need"))

    def exploding(packet, context):
        raise RuntimeError("listener bug")

    river.on_packet(exploding)
    rapid = (
        StreamingRapid.from_text_files(spark, src, "app", "i-1")
        .register(river)
        .set_sink_parquet(out)
    )
    with pytest.raises(Exception, match="listener bug"):
        rapid.run_available(ckpt)


def test_span_hook_fires_per_listener_call(spark, tmp_path):
    """River.kt:74-76 tracing parity: the span hook fires executor-side
    once per (listener, packet) with the river name, the stable listener
    label, and a positive duration."""
    src, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    spans_dir = tmp_path / "spans"
    spans_dir.mkdir()
    write_messages(
        src,
        [json.dumps({"@event_name": "need", "req": i}) for i in range(4)],
    )
    river = River("needs").validate(P.require_value("@event_name", "need"))

    def solve(packet, context):
        context.publish(packet)

    def audit(packet, context):
        pass

    river.on_packet(solve)
    river.on_packet(audit)
    spans_path = str(spans_dir / "spans.log")

    def span_hook(river_name, label, duration):
        # executor-side sink stand-in: one short O_APPEND line per span
        # (an OTel exporter call in production)
        with open(spans_path, "a") as f:
            f.write(f"{river_name}\t{label}\t{duration:.9f}\n")

    rapid = (
        StreamingRapid.from_text_files(spark, src, "app", "i-1")
        .register(river)
        .set_sink_parquet(out)
        .set_span_hook(span_hook)
    )
    rapid.run_available(ckpt)
    spans = [
        line.split("\t") for line in open(spans_path).read().splitlines()
    ]
    assert len(spans) == 8  # 4 packets x 2 listeners
    assert all(r == "needs" for r, _, _ in spans)
    labels = {label for _, label, _ in spans}
    assert labels == {"needs/0:solve", "needs/1:audit"}
    assert all(float(d) >= 0 for _, _, d in spans)
    # replies unaffected by tracing
    assert len(read_parquet_values(spark, out)) == 4


def test_pingpong_river_streaming(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    write_messages(
        src,
        [
            json.dumps({"@event_name": "ping", "ping_time": "2026-01-01T00:00:00"}),
            json.dumps({"@event_name": "ping", "ping_time": "2026-01-01T00:00:01"}),
            json.dumps({"@event_name": "other"}),
        ],
    )
    river = pingpong_river(
        "my_app", "inst-1", now=F.lit("2026-01-01T01:00:00").cast("timestamp")
    )
    rapid = (
        StreamingRapid.from_text_files(spark, src, "my_app", "inst-1")
        .register(river)
        .set_sink_parquet(out)
    )
    rapid.run_available(ckpt)
    values = [json.loads(v) for v in read_parquet_values(spark, out)]
    # both pings in the same 5s bucket -> rate-limited to one pong
    assert len(values) == 1
    pong = values[0]
    assert pong["@event_name"] == "pong"
    assert pong["app_name"] == "my_app" and pong["instance_id"] == "inst-1"
    assert pong["ping_time"] == "2026-01-01T00:00:00"
    assert pong["@forårsaket_av"]["event_name"] == "ping"


def test_kafka_option_builders():
    cfg = KafkaConfig.from_env(
        {
            "KAFKA_BROKERS": "b1:9092,b2:9092",
            "KAFKA_RAPID_TOPIC": "rapid",
            "KAFKA_EXTRA_TOPIC": "extra1,extra2",
            "KAFKA_CONSUMER_GROUP_ID": "app-v1",
            "KAFKA_RESET_POLICY": "earliest",
            "KAFKA_MAX_RECORDS": "500",
        }
    )
    co = consumer_options(cfg)
    assert co["subscribe"] == "rapid,extra1,extra2"
    assert co["startingOffsets"] == "earliest"
    assert co["maxOffsetsPerTrigger"] == "500"
    assert co["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    po = producer_options(cfg)
    assert po["topic"] == "rapid"
    assert po["kafka.acks"] == "all"
    assert po["kafka.max.in.flight.requests.per.connection"] == "1"


def test_process_batch_on_plain_batch_df(spark):
    """Batch/stream duality: the same dispatch runs on a batch DataFrame."""
    df = spark.createDataFrame(
        [(json.dumps({"@event_name": "e", "v": 1}), None)], "value string, key string"
    )
    captured = []
    river = River("e").validate(P.require_value("@event_name", "e"))
    river.respond(lambda passing: passing.select("value", "key"))
    rapid = StreamingRapid(spark, "app", "i").register(river).set_sink(
        lambda out: captured.extend(r.value for r in out.collect())
    )
    rapid.process_batch(df)
    assert len(captured) == 1


def test_evaluate_reuses_preparsed_variant(spark):
    """River.evaluate must reuse an existing __variant column (the runtime
    parses each micro-batch once and shares it across rivers)."""
    from pyspark.sql import functions as F
    from rapids_and_rivers_spark.functions import json_ops as J
    from rapids_and_rivers_spark.functions import predicates as P
    from rapids_and_rivers_spark.river import VARIANT_COL, River

    df = spark.createDataFrame([('{"a": 1}',)], "value string")
    # pre-parse a DIFFERENT document: if evaluate re-parsed `value`, the
    # verdict would flip
    preparsed = df.withColumn(VARIANT_COL, J.parse(F.lit('{"b": 2}')))
    river = River("r").validate(P.require_key("b"))
    out = river.evaluate(preparsed).select("verdict").collect()
    assert out[0].verdict == "pass"


def test_multi_river_batch_dispatch(spark, tmp_path):
    """Two rivers over one batch: both see every message (R1 broadcast
    dispatch), each filters independently, replies union into the sink."""
    import json
    from pyspark.sql import functions as F
    from rapids_and_rivers_spark.functions import predicates as P
    from rapids_and_rivers_spark.river import River
    from rapids_and_rivers_spark.streaming.runtime import StreamingRapid

    msgs = [
        json.dumps({"@event_name": "a", "n": 1}),
        json.dumps({"@event_name": "b", "n": 2}),
        json.dumps({"@event_name": "a", "n": 3}),
    ]
    df = spark.createDataFrame([(m, "k") for m in msgs], "value string, key string")

    def tag(name):
        def responder(passing):
            return passing.select(
                F.concat(F.lit(name + ":"), F.col("value")).alias("value"), "key"
            )

        return responder

    rapid = StreamingRapid(spark, service_name="svc", instance_id="i1")
    rapid.register(
        River("ra").validate(P.require_value("@event_name", "a")).respond(tag("ra"))
    )
    rapid.register(
        River("rb").validate(P.require_value("@event_name", "b")).respond(tag("rb"))
    )
    got = []
    rapid.set_sink(lambda out: got.extend(r.value for r in out.collect()))
    rapid.process_batch(df)
    assert sorted(g.split(":")[0] for g in got) == ["ra", "ra", "rb"]


def test_dlq_routes_failed_verdicts(spark, tmp_path):
    """R4 error channels: non-passing messages land in the DLQ with river
    name, verdict, and accumulated errors (River.kt:104-124)."""
    import json
    from rapids_and_rivers_spark.functions import predicates as P
    from rapids_and_rivers_spark.river import River
    from rapids_and_rivers_spark.streaming.runtime import StreamingRapid

    msgs = [
        json.dumps({"@event_name": "a", "n": 1}),   # pass
        json.dumps({"@event_name": "b"}),           # precondition fail
        json.dumps({"@event_name": "a"}),           # validation fail (no n)
        "not json at all",                          # unparseable
    ]
    df = spark.createDataFrame([(m, "k") for m in msgs], "value string, key string")
    rapid = StreamingRapid(spark, service_name="svc", instance_id="i1")
    rapid.register(
        River("ra")
        .precondition(P.require_value("@event_name", "a"))
        .validate(P.require_key("n"))
        .respond(lambda passing: passing.select("value", "key"))
    )
    rapid.set_sink(lambda out: out.count())
    dlq_dir = str(tmp_path / "dlq")
    rapid.set_dlq_parquet(dlq_dir)
    rapid.process_batch(df)
    rows = spark.read.parquet(dlq_dir).collect()
    by_verdict = {r.verdict: r for r in rows}
    assert set(by_verdict) == {"precondition_failed", "validation_failed", "unparseable"}
    assert by_verdict["validation_failed"].errors == ["Missing required key: n"]
    assert all(r.river == "ra" for r in rows)


def test_lifecycle_listener_event_order():
    """R8/R9: startup callbacks run BEFORE up/ready publish; shutdown emits
    stop then down (RapidApplication.kt:94-139 ordering)."""
    import json
    from rapids_and_rivers_spark.streaming.lifecycle import RapidLifecycleListener

    published, order = [], []
    listener = RapidLifecycleListener(published.append, "app", "i-1")
    listener.on_startup_callbacks.append(lambda: order.append("startup_cb"))
    listener.on_ready_callbacks.append(lambda: order.append("ready_cb"))
    listener.on_shutdown_callbacks.append(lambda: order.append("shutdown_cb"))

    listener.onQueryStarted(None)
    listener.onQueryTerminated(None)

    assert listener.events == [
        "application_up", "application_ready", "application_stop", "application_down",
    ]
    assert order == ["startup_cb", "ready_cb", "shutdown_cb"]
    first = json.loads(published[0])
    assert first["@event_name"] == "application_up"
    assert first["app_name"] == "app" and first["instance_id"] == "i-1"


def test_lifecycle_golden_fields_on_started_query(spark, tmp_path):
    """R8/R9 golden-field parity through a REAL StreamingQueryListener on a
    started query: each published lifecycle event carries exactly the
    reference field set — @event_name, @id, @opprettet, app_name,
    instance_id (RapidApplication.kt:119-139 builds
    JsonMessage.newMessage(event, {app_name, instance_id}))."""
    import json
    import time
    from pyspark.sql import functions as F
    from rapids_and_rivers_spark.streaming.lifecycle import RapidLifecycleListener
    from rapids_and_rivers_spark.streaming.runtime import StreamingRapid

    src = str(tmp_path / "in")
    write_messages(src, [json.dumps({"@event_name": "ev", "n": 1})])
    published: list[str] = []
    ids = iter(f"lifecycle-id-{i}" for i in range(10))
    listener = RapidLifecycleListener(
        published.append,
        app_name="engine",
        instance_id="instance-1",
        id_generator=lambda: next(ids),
        query_name="lifecycle_golden_q",
    )
    spark.streams.addListener(listener)
    try:
        rapid = StreamingRapid(spark, service_name="engine", instance_id="instance-1")
        rapid.set_source(
            spark.readStream.format("text").load(src).select(F.col("value"))
        )
        rapid.set_sink(lambda out: out.count())
        query = rapid.start(
            str(tmp_path / "ckpt"), available_now=True, query_name="lifecycle_golden_q"
        )
        query.awaitTermination()
        # the listener bus delivers asynchronously — poll for the tail event
        deadline = time.time() + 30
        while "application_down" not in listener.events and time.time() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert listener.events == [
        "application_up", "application_ready", "application_stop", "application_down",
    ]
    for i, payload in enumerate(published):
        msg = json.loads(payload)
        assert set(msg) == {
            "@event_name", "@id", "@opprettet", "app_name", "instance_id"
        }, f"field drift in event {i}: {sorted(msg)}"
        assert msg["@event_name"] == listener.events[i]
        assert msg["@id"] == f"lifecycle-id-{i}"
        assert msg["app_name"] == "engine" and msg["instance_id"] == "instance-1"


def test_lifecycle_null_app_name_publishes_nothing():
    """applicationEvent returns null without app_name (RapidApplication.kt
    :130): events are tracked but nothing is published."""
    from rapids_and_rivers_spark.streaming.lifecycle import RapidLifecycleListener

    published: list[str] = []
    listener = RapidLifecycleListener(published.append, None, "i-1")
    listener.onQueryStarted(None)
    listener.onQueryTerminated(None)
    assert listener.events == [
        "application_up", "application_ready", "application_stop", "application_down",
    ]
    assert published == []


def test_on_packet_seconds_timer(spark):
    """on_packet_seconds parity (River.kt:74-88): per-listener call counts
    and wall-time totals accumulate from the executor-side handler loop."""
    import json
    from rapids_and_rivers_spark.functions import predicates as P
    from rapids_and_rivers_spark.river import River
    from rapids_and_rivers_spark.streaming.runtime import StreamingRapid

    def slow_listener(packet, context):
        import time

        time.sleep(0.002)
        context.publish(packet)

    def fast_listener(packet, context):
        pass

    river = (
        River("timed")
        .validate(P.require_key("@event_name"))
        .on_packet(slow_listener)
        .on_packet(fast_listener)
    )
    msgs = [json.dumps({"@event_name": "e", "i": i}) for i in range(5)]
    df = spark.createDataFrame([(m, "k") for m in msgs], "value string, key string")
    rapid = StreamingRapid(spark, service_name="svc", instance_id="i1")
    timer = rapid.enable_packet_timers()
    rapid.register(river)
    rapid.set_sink(lambda out: out.count())
    rapid.process_batch(df)
    snap = timer.snapshot()
    slow = snap["timed/0:slow_listener"]
    fast = snap["timed/1:fast_listener"]
    assert slow["count"] == 5 and fast["count"] == 5
    assert slow["total_seconds"] >= 5 * 0.002
    assert 0 <= fast["total_seconds"] < slow["total_seconds"]


def test_failed_batch_redelivered_after_restart(spark, tmp_path):
    """Crash-stop + at-least-once parity (RapidIntegrationTest.kt:144-202):
    a sink failure fails the query BEFORE the checkpoint commits, so a
    restarted query redelivers the same batch and the messages are not
    lost."""
    import json
    from pyspark.sql import functions as F
    from rapids_and_rivers_spark.functions import predicates as P
    from rapids_and_rivers_spark.river import River
    from rapids_and_rivers_spark.streaming.runtime import StreamingRapid

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    marker = tmp_path / "failed_once"
    write_messages(src, [json.dumps({"@event_name": "ev", "n": i}) for i in range(3)])

    def build():
        rapid = StreamingRapid(spark, service_name="svc", instance_id="i1")
        rapid.set_source(
            spark.readStream.format("text")
            .load(src)
            .select(F.col("value"), F.lit("k").alias("key"))
        )
        rapid.register(
            River("ev")
            .validate(P.require_value("@event_name", "ev"))
            .respond(lambda passing: passing.select("value", "key"))
        )
        return rapid

    got = []

    def flaky_sink(out):
        rows = [r.value for r in out.collect()]
        if not marker.exists():
            marker.write_text("x")
            raise RuntimeError("simulated publish failure")
        got.extend(rows)

    rapid = build()
    rapid.set_sink(flaky_sink)
    q = rapid.start(ckpt, available_now=True)
    try:
        q.awaitTermination()
        raise AssertionError("query should have failed (crash-stop)")
    except Exception as exc:
        assert "simulated publish failure" in str(exc)

    # restart from the same checkpoint: the uncommitted batch is redelivered
    rapid2 = build()
    rapid2.set_sink(flaky_sink)
    rapid2.run_available(ckpt)
    assert sorted(json.loads(v)["n"] for v in got) == [0, 1, 2]


def test_idempotent_sink_replay_safe(spark, tmp_path):
    """Re-running the SAME batch id overwrites its own partition (no dups);
    a new batch id appends — exactly-once effective delivery."""
    import json
    from rapids_and_rivers_spark.functions import predicates as P
    from rapids_and_rivers_spark.river import River
    from rapids_and_rivers_spark.streaming.runtime import StreamingRapid

    out = str(tmp_path / "out")
    rapid = StreamingRapid(spark, service_name="svc", instance_id="i1")
    rapid.register(
        River("ev")
        .validate(P.require_key("n"))
        .respond(lambda passing: passing.select("value", "key"))
    )
    rapid.set_sink_parquet_idempotent(out)

    def batch(ns):
        msgs = [(json.dumps({"n": n}), "k") for n in ns]
        return spark.createDataFrame(msgs, "value string, key string")

    rapid.process_batch(batch([1, 2]), batch_id=0)
    rapid.process_batch(batch([1, 2]), batch_id=0)  # replay: must not dup
    rapid.process_batch(batch([3]), batch_id=1)

    vals = sorted(json.loads(r.value)["n"] for r in spark.read.parquet(out).collect())
    assert vals == [1, 2, 3]


def test_multi_source_union_stream(spark, tmp_path):
    """S1 at the runtime level: the rapid topic plus an extra topic consumed
    as ONE stream (KafkaRapid.kt:27-36 subscribe(rapid, *extra)) — here two
    file sources unioned into a single set_source, one river, one sink."""
    rapid_dir, extra_dir = str(tmp_path / "rapid"), str(tmp_path / "extra")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    write_messages(
        rapid_dir,
        [json.dumps({"@event_name": "order", "order_id": i, "src": "rapid"})
         for i in range(10)],
    )
    write_messages(
        extra_dir,
        [json.dumps({"@event_name": "order", "order_id": 100 + i, "src": "extra"})
         for i in range(5)],
    )
    src_rapid = spark.readStream.format("text").load(rapid_dir).select(
        F.col("value").cast("string").alias("value")
    )
    src_extra = spark.readStream.format("text").load(extra_dir).select(
        F.col("value").cast("string").alias("value")
    )
    river = (
        River("orders")
        .precondition(P.require_value("@event_name", "order"))
        .validate(P.require_key("order_id", "src"))
    )
    river.respond(
        lambda passing: passing.select(
            F.to_json(
                F.named_struct(
                    F.lit("order_id"), River.field("order_id", "long"),
                    F.lit("src"), River.field("src", "string"),
                )
            ).alias("value"),
            "key",
        )
    )
    rapid = (
        StreamingRapid(spark, "app", "i-1")
        .set_source(src_rapid.unionByName(src_extra))
        .register(river)
        .set_sink_parquet(out)
    )
    rapid.run_available(ckpt)

    values = [json.loads(v) for v in read_parquet_values(spark, out)]
    assert len(values) == 15
    assert sorted(v["order_id"] for v in values) == list(range(10)) + [100 + i for i in range(5)]
    assert {v["src"] for v in values} == {"rapid", "extra"}


def test_packet_handlers_receive_message_metadata(spark, tmp_path):
    """MessageMetadata parity (RapidsConnection.kt:112, MessageMetadata.kt
    :3-9): a three-arg listener gets (packet, context, metadata) with the
    record coordinates the source carries; two-arg listeners keep the
    short signature."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    river = River("needs").validate(P.require_value("@event_name", "need"))

    def handler(packet, context, metadata):
        packet["meta_topic"] = metadata.topic
        packet["meta_partition"] = int(metadata.partition)
        packet["meta_offset"] = int(metadata.offset)
        packet["meta_key"] = metadata.key
        context.publish(packet)

    river.on_packet(handler)
    rapid = StreamingRapid(spark, "app", "i-1").register(river).set_sink_parquet(out)
    batch = spark.createDataFrame(
        [
            (json.dumps({"@event_name": "need", "n": i}), f"k{i}", "rapid-topic", i % 2, 100 + i)
            for i in range(4)
        ],
        "value string, key string, topic string, partition int, offset long",
    )
    rapid.process_batch(batch, batch_id=0)
    values = sorted(
        (json.loads(r.value) for r in spark.read.parquet(out).collect()),
        key=lambda v: v["n"],
    )
    assert [v["meta_topic"] for v in values] == ["rapid-topic"] * 4
    assert [v["meta_partition"] for v in values] == [0, 1, 0, 1]
    assert [v["meta_offset"] for v in values] == [100, 101, 102, 103]
    assert [v["meta_key"] for v in values] == ["k0", "k1", "k2", "k3"]


def test_two_arg_handlers_without_metadata_columns(spark, tmp_path):
    """File sources carry no record coordinates: two-arg handlers run
    unchanged, and a three-arg handler gets None-field metadata."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    river = River("needs").validate(P.require_value("@event_name", "need"))

    def short_handler(packet, context):
        packet["short"] = True
        context.publish(packet)

    def meta_handler(packet, context, metadata):
        packet["topic_is_none"] = metadata.topic is None
        packet["key_carried"] = metadata.key
        context.publish(packet)

    river.on_packet(short_handler)
    river.on_packet(meta_handler)
    rapid = StreamingRapid(spark, "app", "i-1").register(river).set_sink_parquet(out)
    batch = spark.createDataFrame(
        [(json.dumps({"@event_name": "need"}), "key-9")], "value string, key string"
    )
    rapid.process_batch(batch, batch_id=0)
    values = [json.loads(r.value) for r in spark.read.parquet(out).collect()]
    # both listeners mutate the SAME packet (reference semantics: one
    # JsonMessage instance through every listener) and each publish emits
    # the final state — so both replies carry both handlers' fields
    assert len(values) == 2
    for v in values:
        assert v["short"] is True
        assert v["topic_is_none"] is True
        assert v["key_carried"] == "key-9"


def test_metadata_headers_decoded_to_map(spark, tmp_path):
    """Kafka-style header array decodes to {key: bytes} on the metadata
    object (MessageMetadata.kt: Map<String, ByteArray>)."""
    out = str(tmp_path / "out")
    river = River("needs").validate(P.require_value("@event_name", "need"))

    def handler(packet, context, metadata):
        packet["hdr_trace"] = metadata.headers["trace-id"].decode()
        packet["hdr_none"] = metadata.headers.get("absent") is None
        context.publish(packet)

    river.on_packet(handler)
    rapid = StreamingRapid(spark, "app", "i-1").register(river).set_sink_parquet(out)
    batch = spark.createDataFrame(
        [
            (
                json.dumps({"@event_name": "need"}),
                "k0",
                [{"key": "trace-id", "value": b"abc-123"}],
            )
        ],
        "value string, key string, headers array<struct<key:string,value:binary>>",
    )
    rapid.process_batch(batch, batch_id=0)
    values = [json.loads(r.value) for r in spark.read.parquet(out).collect()]
    assert values[0]["hdr_trace"] == "abc-123"
    assert values[0]["hdr_none"] is True


def test_wants_metadata_counts_only_undefaulted_slots():
    """A defaulted third parameter is a closure capture, not the
    metadata slot; an explicit third parameter or ``*args`` is."""
    from rapids_and_rivers_spark.streaming.runtime import _wants_metadata

    i = 3
    assert not _wants_metadata(lambda packet, ctx, i=i: None)
    assert _wants_metadata(lambda packet, context, metadata: None)
    assert _wants_metadata(lambda *args: None)
    assert not _wants_metadata(lambda packet, context: None)


def test_packet_rivers_share_one_isolated_stage(spark):
    """All packet rivers run in ONE mapInPandas, yet each (message,
    river) gets its own Packet: a field river A sets never reaches
    river B's reply, every reply is caused by its input, and a message
    passing no river yields nothing."""
    msgs = [
        json.dumps({"@id": f"id-{i}", "@event_name": "need", "n": i}) for i in range(3)
    ] + [json.dumps({"@id": "id-other", "@event_name": "other"})]
    df = spark.createDataFrame([(m, None) for m in msgs], "value string, key string")

    def mark(field):
        def listener(packet, context):
            packet[field] = True
            context.publish(packet)

        return listener

    rapid = StreamingRapid(spark, "app", "i-1")
    for name in ("ra", "rb"):
        rapid.register(
            River(name)
            .validate(P.require_value("@event_name", "need"))
            .on_packet(mark(f"from_{name}"))
        )
    plans, replies = [], []

    def sink(out):
        plans.append(out._jdf.queryExecution().optimizedPlan().toString())
        replies.extend(json.loads(r.value) for r in out.collect())

    rapid.set_sink(sink)
    rapid.process_batch(df)
    assert len(plans) == 1 and plans[0].count("MapInPandas") == 1
    assert len(replies) == 6
    a = [r for r in replies if "from_ra" in r]
    b = [r for r in replies if "from_rb" in r]
    assert len(a) == len(b) == 3
    assert not any("from_rb" in r for r in a)
    causes = sorted(r["@forårsaket_av"]["id"] for r in replies)
    assert causes == sorted([f"id-{i}" for i in range(3)] * 2)
    assert sorted(r["n"] for r in a) == sorted(r["n"] for r in b) == [0, 1, 2]


def test_small_batch_runs_packet_stage_as_one_task(spark):
    """Below ROWS_PER_BRANCH_TASK rows, the packet stage of three rivers
    is sized by rows, not by input partitions or river count: the reply
    write runs as one task."""
    needs = ("a", "b", "c")
    msgs = [json.dumps({"@event_name": "need", "type": needs[i % 3]}) for i in range(30)]
    df = spark.createDataFrame([(m, None) for m in msgs], "value string, key string")
    assert df.rdd.getNumPartitions() > 1
    assert len(msgs) < StreamingRapid.ROWS_PER_BRANCH_TASK

    def solve(packet, context):
        context.publish(packet)

    rapid = StreamingRapid(spark, "app", "i-1")
    for need in needs:
        rapid.register(
            River(f"need_{need}").validate(P.require_value("type", need)).on_packet(solve)
        )
    sc = spark.sparkContext
    group = "packet-stage-sizing"
    replies = []

    def sink(out):
        sc.setJobGroup(group, "reply write")
        try:
            replies.extend(out.collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    rapid.set_sink(sink)
    rapid.process_batch(df)
    assert len(replies) == 30
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1
    stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(jobs[0]).stageIds]
    assert [(s.numTasks, s.numCompletedTasks) for s in stages] == [(1, 1)]
