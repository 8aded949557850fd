"""TestRapid in-memory bus (TestRapidTest.kt:15-76 parity) and the bulk
publish API (RapidsConnection.kt:9)."""

from __future__ import annotations

import json

from rapids_and_rivers_spark.functions import predicates as P
from rapids_and_rivers_spark.rapid import AbstractRapid
from rapids_and_rivers_spark.rapid import TestRapid as InMemoryRapid  # alias: keep pytest from collecting it
from rapids_and_rivers_spark.river import River


def test_test_rapid_roundtrip_and_inspector(spark):
    rapid = InMemoryRapid(spark, id_generator=lambda: "fixed-id")
    river = River("needs").validate(P.require_value("@event_name", "need"))

    def handler(packet, context):
        packet["solved"] = True
        context.publish(packet)

    river.on_packet(handler)
    rapid.register(river)
    rapid.send_test_message(json.dumps({"@event_name": "need"}), key="k1")
    rapid.send_test_message(json.dumps({"@event_name": "other"}))

    insp = rapid.inspector
    assert insp.size == 1  # only the passing message produced a reply
    assert insp.key(0) == "k1"  # KeyMessageContext: incoming key reused
    msg = insp.message(0)
    assert msg["solved"] is True
    # verdict log captured both sends
    assert [v for (_, v, _) in rapid.verdict_log] == [
        "pass",
        "validation_failed",
    ]
    rapid.reset()
    assert rapid.inspector.size == 0 and rapid.verdict_log == []


def test_test_rapid_passes_metadata_to_a_three_parameter_listener(spark):
    """TestRapid honours the streaming runtime's listener contract: a
    listener declaring a third parameter gets the record's
    MessageMetadata, a two-parameter listener on the same river does not."""
    from rapids_and_rivers_spark.streaming.runtime import MessageMetadata

    rapid = InMemoryRapid(spark)
    river = River("meta").validate(P.require_key("a"))
    seen = []

    def with_meta(packet, ctx, meta):
        seen.append(meta)

    def without_meta(packet, ctx):
        seen.append("two-arg")

    river.on_packet(with_meta)
    river.on_packet(without_meta)
    rapid.register(river)
    rapid.send_test_message(json.dumps({"a": 1}), key="k1")
    assert seen == [MessageMetadata(key="k1"), "two-arg"]


def test_publish_many_splits_sent_and_failed():
    class FlakyRapid(AbstractRapid):
        def publish(self, message, key=None):
            if "boom" in message:
                raise RuntimeError("broker says no")

    sent, failed = FlakyRapid().publish_many(
        ["ok-1", ("ok-2", "key-2"), "has boom inside", ("ok-3", None)]
    )
    assert [(i, k) for i, _, k in sent] == [(0, None), (1, "key-2"), (3, None)]
    assert len(failed) == 1
    i, body, key, exc = failed[0]
    assert i == 2 and "boom" in body and isinstance(exc, RuntimeError)


def test_publish_many_on_test_rapid(spark):
    rapid = InMemoryRapid(spark)
    sent, failed = rapid.publish_many([json.dumps({"a": i}) for i in range(3)])
    assert len(sent) == 3 and failed == []
    assert rapid.inspector.size == 3


def test_publish_many_never_raises_on_malformed_elements():
    class Sink(AbstractRapid):
        def publish(self, message, key=None):
            pass

    sent, failed = Sink().publish_many(["ok", ("body", "k", "extra"), "ok2"])
    assert [i for i, _, _ in sent] == [0, 2]
    assert len(failed) == 1 and failed[0][0] == 1
    assert isinstance(failed[0][3], ValueError)
