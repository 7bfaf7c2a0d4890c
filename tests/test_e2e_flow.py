"""Golden end-to-end flow, the Spark analogue of the reference's e2e test
(src/e2e/e2etest.go:19-235): register a webhook config -> ingest messages
to the topic -> reconciler starts the delivery query -> the webhook
endpoint replies with TopicFn headers -> the reply body lands on the
second topic's table -> cleanup stops the query."""

from __future__ import annotations

from datetime import datetime, timedelta

from pulsar_beam_spark.model.config_store import ConfigStore
from pulsar_beam_spark.model.message import MESSAGE_SCHEMA
from pulsar_beam_spark.model.topic import Webhook
from pulsar_beam_spark.streaming.delivery import WebhookSink, deliver_multiplexed_stream
from pulsar_beam_spark.streaming.reconciler import Reconciler

from .conftest import routes

T0 = datetime(2024, 1, 1)
TOPIC_A = "persistent://ming/ns/topic-a"
TOPIC_B = "persistent://ming/ns/topic-b"


class _ReplyingEndpoint:
    """Cloud-function stand-in: echoes each body back, addressed to TOPIC_B.

    Records received bodies through a filesystem spool — delivery runs in
    executor-side Python workers, so in-memory lists never reach the
    driver process."""

    def __init__(self, spool):
        self.spool = str(spool)

    def __call__(self, url, body, headers):
        import os
        import uuid

        os.makedirs(self.spool, exist_ok=True)
        with open(os.path.join(self.spool, f"{os.getpid()}-{uuid.uuid4().hex}.bin"), "wb") as f:
            f.write(bytes(body))
        return 200, {"TopicFn": TOPIC_B, "PulsarUrl": "pulsar://c:6650"}, b"echo:" + bytes(body)

    @property
    def received(self):
        import os

        out = []
        if os.path.isdir(self.spool):
            for fn in sorted(os.listdir(self.spool)):
                with open(os.path.join(self.spool, fn), "rb") as f:
                    out.append(f.read())
        return out


def test_golden_flow(spark, tmp_path):
    # 1. register the webhook config (POST /v2/topic parity)
    store = ConfigStore(spark, str(tmp_path / "cfg"))
    store.update(
        TOPIC_A,
        "pulsar://c:6650",
        [Webhook("http://function.example.com/cb", "e2e-sub01", initial_position="earliest")],
        tenant="ming",
    )

    # 2. ingest: produce 5 messages onto topic A's table (firehose parity)
    ingest_dir = str(tmp_path / "topic-a")
    msgs = [
        (
            f"m-{i}",
            TOPIC_A,
            None,
            f'{{"n": {i}}}'.encode(),
            T0 + timedelta(seconds=i),
            T0 + timedelta(seconds=i),
            {"PulsarBeamId": f"u{i}"},
        )
        for i in range(5)
    ]
    spark.createDataFrame(msgs, MESSAGE_SCHEMA).coalesce(1).write.parquet(ingest_dir)

    # 3. reconciler starts the delivery query over the activated webhooks
    endpoint = _ReplyingEndpoint(tmp_path / "endpoint-spool")
    reply_dir = str(tmp_path / "topic-b")

    def start_fn(rows, ckpt):
        stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(ingest_dir)
        return deliver_multiplexed_stream(
            stream, routes(spark, rows), ckpt,
            sink_factory=lambda cfg: WebhookSink(cfg["url"], headers=cfg["headers"], transport=endpoint),
            reply_table_dir=reply_dir, query_name="e2e-delivery",
        )

    rec = Reconciler(spark, str(tmp_path / "ckpts"), start_fn)
    started, _ = rec.reconcile(store.snapshot())
    assert len(started) == 1

    q = rec.query
    q.processAllAvailable()

    # 4. every message reached the endpoint...
    assert sorted(endpoint.received) == sorted(bytes(m[3]) for m in msgs)

    # ...and every reply landed on topic B with the echoed body
    replies = spark.read.schema(MESSAGE_SCHEMA).parquet(reply_dir).collect()
    assert len(replies) == 5
    assert all(r["topic"] == TOPIC_B for r in replies)
    assert sorted(bytes(r["payload"]) for r in replies) == sorted(b"echo:" + bytes(m[3]) for m in msgs)

    # 5. cleanup: deactivating the config stops the query on next tick
    store.update(TOPIC_A, "pulsar://c:6650", [], tenant="ming")
    _, stopped = rec.reconcile(store.snapshot())
    assert len(stopped) == 1 and rec.query is None
