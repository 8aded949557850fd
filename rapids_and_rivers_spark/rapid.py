"""Rapid connections: the message bus abstraction + in-memory test double.

Reference surface (SURVEY.md §2.4, RapidsConnection.kt:1-114):
- a connection broadcasts every incoming message to all registered rivers
  serially (R1, RapidsConnection.kt:37-55);
- rivers evaluate → route to on_packet / on_error / on_precondition_error /
  on_severe (R4, River.kt:52-65);
- handlers publish replies through a context that stamps the envelope and
  reuses the incoming Kafka key (R6, JsonMessageContext.kt + KeyMessageContext.kt).

``TestRapid`` mirrors rapids-and-rivers-test/TestRapid.kt:15-76: inject with
``send_test_message``, inspect published output with ``inspector``. Verdicts
are computed through the SAME compiled Column expressions as production
(batch DataFrame evaluation) so tests exercise the real engine, while
handlers run as plain Python over :class:`Packet` — exactly the
``foreachBatch`` execution model of the streaming runtime.
"""

from __future__ import annotations

import json
import uuid as _uuid
from typing import Any, Callable

from pyspark.sql import SparkSession

from rapids_and_rivers_spark.packet import Packet
from rapids_and_rivers_spark.problems import MessageProblems, MessageProblemsException
from rapids_and_rivers_spark.river import ERRORS_COL, VERDICT_COL, River, Verdict


class MessageContext:
    """Publish surface handed to handlers (RapidsConnection.kt:13-16)."""

    def __init__(self, rapid: "AbstractRapid", default_key: str | None = None):
        self._rapid = rapid
        self._default_key = default_key

    def publish(self, message: str | Packet, key: str | None = None) -> None:
        """Publish, reusing the incoming record's key unless overridden
        (KeyMessageContext.kt:7-22)."""
        body = message.to_json() if isinstance(message, Packet) else message
        self._rapid.publish(body, key if key is not None else self._default_key)


class AbstractRapid:
    """Listener registry + broadcast dispatch (RapidsConnection.kt:37-55)."""

    def __init__(self, service_name: str | None = None, instance_id: str | None = None):
        self.service_name = service_name
        self.instance_id = instance_id
        self._rivers: list[River] = []

    def register(self, river: River) -> "AbstractRapid":
        self._rivers.append(river)
        return self

    @property
    def rivers(self) -> list[River]:
        return list(self._rivers)

    def publish(self, message: str, key: str | None = None) -> None:
        raise NotImplementedError

    def publish_many(
        self, messages: list[str | tuple[str, str | None]]
    ) -> tuple[list[tuple[int, str, str | None]], list[tuple[int, str, str | None, Exception]]]:
        """Bulk publish (RapidsConnection.kt:9 —
        ``publish(List<OutgoingMessage>) -> (sent, failed)``): best-effort
        per message, never raises; each element is a body or a
        ``(body, key)`` pair. Returns ``(sent, failed)`` with positions
        preserved — ``failed`` entries carry the exception so the caller
        can retry or dead-letter exactly the losers (the reference's
        SentMessage/FailedMessage split)."""
        sent: list[tuple[int, str, str | None]] = []
        failed: list[tuple[int, str, str | None, Exception]] = []
        for i, m in enumerate(messages):
            body, key = None, None
            try:
                body, key = m if isinstance(m, tuple) else (m, None)
                self.publish(body, key)
                sent.append((i, body, key))
            except Exception as exc:  # noqa: BLE001 — per-message isolation
                failed.append((i, body, key, exc))
        return sent, failed


class TestRapid(AbstractRapid):
    """In-memory rapid for tests (TestRapid.kt:15-76).

    ``send_test_message`` runs every registered river over the message via
    the compiled Spark expressions, then dispatches Python handlers for
    passing messages; handler ``publish`` output lands in the inspector.
    """

    def __init__(
        self,
        spark: SparkSession,
        service_name: str = "test_app",
        instance_id: str = "test_instance",
        id_generator: Callable[[], str] | None = None,
    ):
        super().__init__(service_name, instance_id)
        self.spark = spark
        self._id_generator = id_generator or (lambda: str(_uuid.uuid4()))
        self._published: list[tuple[str, str | None]] = []
        #: (river_name, verdict, errors) per send, for routing assertions
        self.verdict_log: list[tuple[str, str, list[str]]] = []

    # -- injection -------------------------------------------------------------

    def send_test_message(self, message: str, key: str | None = None) -> None:
        df = self.spark.createDataFrame([(message,)], "value string")
        for river in self._rivers:
            # bounded-collect: TestRapid in-memory harness — df is the
            # single injected test message (1 row by construction)
            row = river.evaluate(df).select(VERDICT_COL, ERRORS_COL).collect()[0]
            verdict, errors = row[0], list(row[1])
            self.verdict_log.append((river.name, verdict, errors))
            if verdict == Verdict.PASS:
                self._dispatch(river, message, key)
            # error channels are observable via verdict_log; the reference's
            # onError/onSevere callbacks are the streaming runtime's DLQ split

    def _dispatch(self, river: River, message: str, key: str | None) -> None:
        try:
            packet = Packet(
                message,
                id_generator=self._id_generator,
                service_name=self.service_name,
                instance_id=self.instance_id,
            )
        except MessageProblemsException:
            return
        # the streaming runtime's listener contract: a listener that takes
        # a third parameter also gets the record's MessageMetadata
        from rapids_and_rivers_spark.streaming.runtime import (
            MessageMetadata,
            _wants_metadata,
        )

        packet.declare(*river.declared_keys)
        context = _ReplyContext(self, packet, default_key=key)
        for listener in river.listeners:
            if _wants_metadata(listener):
                listener(packet, context, MessageMetadata(key=key))
            else:
                listener(packet, context)

    # -- publish + inspection (RapidInspector, TestRapid.kt:65-75) -------------

    def publish(self, message: str, key: str | None = None) -> None:
        self._published.append((message, key))

    @property
    def inspector(self) -> "RapidInspector":
        return RapidInspector(self._published)

    def reset(self) -> None:
        self._published.clear()
        self.verdict_log.clear()


class _ReplyContext(MessageContext):
    """Stamps causation + fresh id on published replies
    (JsonMessageContext.kt:12-29)."""

    def __init__(self, rapid: TestRapid, original: Packet, default_key: str | None):
        super().__init__(rapid, default_key)
        self._original = original
        self._rapid_test = rapid

    def publish(self, message: str | Packet, key: str | None = None) -> None:
        if isinstance(message, Packet):
            reply = message
        else:
            reply = Packet(message, stamp=False)
        self._original.populate_standard_fields(
            reply, id_generator=self._rapid_test._id_generator
        )
        super().publish(reply.to_json(), key)


class RapidInspector:
    """Assertion helper over published messages (TestRapid.kt:65-75)."""

    def __init__(self, published: list[tuple[str, str | None]]):
        self._published = list(published)

    @property
    def size(self) -> int:
        return len(self._published)

    def message(self, index: int) -> dict[str, Any]:
        return json.loads(self._published[index][0])

    def raw_message(self, index: int) -> str:
        return self._published[index][0]

    def key(self, index: int) -> str | None:
        return self._published[index][1]

    def field(self, index: int, key: str) -> Any:
        value = self.message(index)
        for seg in key.split("."):
            if not isinstance(value, dict) or seg not in value:
                raise KeyError(f"{key} not present in message {index}")
            value = value[seg]
        return value
