"""Full gateway⇄Spark dataflow over real sockets, zero mocks:

    HTTP POST /v1/firehose (topic A)
      -> TopicDirStore parquet
      -> Structured Streaming delivery query (streaming/delivery.py)
      -> executor-side HTTP POST back into the gateway (webhook target
         is the gateway's own firehose with a TopicFn header for B)
      -> TopicDirStore parquet (topic B)
      -> HTTP GET /v2/poll (topic B)

This is the reference's production loop (receive -> broker webhook
fan-out -> produce -> consume; src/route/handlers.go + broker/webhook.go)
with every hop exercised end-to-end: two HTTP ingress calls, a real
Spark streaming job, and an HTTP egress poll.
"""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from pulsar_beam_spark.icrypto import RSAKeyPair
from pulsar_beam_spark.model.config_store import InMemoryConfigStore
from pulsar_beam_spark.model.message import MESSAGE_SCHEMA
from pulsar_beam_spark.server import GatewayApp, TopicDirStore, make_server
from pulsar_beam_spark.streaming.delivery import WebhookSink, deliver_multiplexed_stream

from .conftest import routes, topic_routes

try:
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    HAVE_CRYPTO = True
except Exception:  # pragma: no cover
    HAVE_CRYPTO = False

pytestmark = pytest.mark.skipif(not HAVE_CRYPTO, reason="needs cryptography for test keygen")

PULSAR_URL = "pulsar://localhost:6650"
TOPIC_A = "persistent://tenant1/ns1/ingress"
TOPIC_B = "persistent://tenant1/ns1/egress"


def test_reply_loop_through_live_gateway(spark, tmp_path):
    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    keypair = RSAKeyPair.from_pem(
        key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.TraditionalOpenSSL,
            serialization.NoEncryption(),
        ).decode(),
        key.public_key()
        .public_bytes(
            serialization.Encoding.PEM, serialization.PublicFormat.SubjectPublicKeyInfo
        )
        .decode(),
    )
    app = GatewayApp(
        config_store=InMemoryConfigStore(),
        message_store=TopicDirStore(str(tmp_path / "topics")),
        keys=keypair,
        allowed_clusters=[PULSAR_URL],
        mode="hybrid",
    )
    httpd = make_server(app)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        # 1. ingress: two messages into topic A over HTTP
        for payload in (b'{"n": 1}', b'{"n": 2}'):
            req = urllib.request.Request(
                base + "/v1/firehose", data=payload, method="POST",
                headers={"TopicFn": TOPIC_A, "PulsarUrl": PULSAR_URL},
            )
            assert urllib.request.urlopen(req, timeout=10).status == 200

        # 2. delivery: Spark streams topic A's directory; the webhook
        #    target is the gateway itself, re-producing onto topic B
        #    (the reference's beam-to-beam chaining deployment)
        sink = WebhookSink(
            url=base + "/v1/firehose",
            headers=[f"TopicFn: {TOPIC_B}", f"PulsarUrl: {PULSAR_URL}"],
            retry_max=2,
        )
        stream = (
            spark.readStream.schema(MESSAGE_SCHEMA)
            .parquet(app.message_store.topic_dir(TOPIC_A))
        )
        q = deliver_multiplexed_stream(
            stream, topic_routes(spark, [TOPIC_A], sink.url), str(tmp_path / "ckpt"),
            sink_factory=lambda cfg: sink)
        q.processAllAvailable()
        q.stop()

        # 3. egress: the delivered bodies poll out of topic B over HTTP
        req = urllib.request.Request(
            base + "/v2/poll/persistent/tenant1/ns1/egress",
            headers={"Authorization": "Bearer " + keypair.generate_token("tenant1")},
        )
        with urllib.request.urlopen(req, timeout=10) as resp:
            assert resp.status == 200
            out = json.loads(resp.read())
        assert out["size"] == 2
        bodies = sorted(json.loads(m["payload"])["n"] for m in out["messages"])
        assert bodies == [1, 2]
        # producer parity survives the chain: fresh PulsarBeamId stamped
        rows, _ = app.message_store.scan(TOPIC_B)
        assert all(dict(r["properties"]).get("PulsarBeamId") for r in rows)
    finally:
        httpd.shutdown()


def test_http_config_driven_delivery_lifecycle(spark, tmp_path):
    """The reference's PRODUCTION control plane over real HTTP: a webhook
    config registered via POST /v2/topic makes the reconciler start a
    delivery query whose webhook target re-produces onto topic B through
    the gateway; re-POSTing the config with the same URL but a new
    TopicFn header re-addresses the running delivery to topic C on the
    next tick; DELETE /v2/topic stops it on the next tick."""
    from pulsar_beam_spark.model.config_store import snapshot_df
    from pulsar_beam_spark.streaming.reconciler import Reconciler

    app = GatewayApp(
        config_store=InMemoryConfigStore(),
        message_store=TopicDirStore(str(tmp_path / "topics")),
        keys=None,
        allowed_clusters=[PULSAR_URL],
        mode="hybrid",
        auth_impl="noauth",
    )
    httpd = make_server(app)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        # 1. control plane: register topic A with a webhook whose target
        #    is the gateway's own firehose, re-addressed to topic B
        def post_config(reply_topic):
            cfg = json.dumps({
                "TopicFullName": TOPIC_A,
                "PulsarUrl": PULSAR_URL,
                "Webhooks": [{
                    "URL": base + "/v1/firehose",
                    "Subscription": "lifecycle-sub",
                    "InitialPosition": "earliest",
                    "Headers": [f"TopicFn: {reply_topic}", f"PulsarUrl: {PULSAR_URL}"],
                }],
            }).encode()
            req = urllib.request.Request(base + "/v2/topic", data=cfg, method="POST")
            with urllib.request.urlopen(req, timeout=10) as resp:
                assert resp.status == 201
                return json.loads(resp.read())["key"]

        def produce(values):
            for i in values:
                r = urllib.request.Request(
                    base + "/v1/firehose", data=f'{{"i": {i}}}'.encode(), method="POST",
                    headers={"TopicFn": TOPIC_A, "PulsarUrl": PULSAR_URL})
                assert urllib.request.urlopen(r, timeout=10).status == 200

        def poll(topic):
            req = urllib.request.Request(
                base + "/v2/poll/persistent/tenant1/ns1/" + topic.rsplit("/", 1)[1])
            with urllib.request.urlopen(req, timeout=10) as resp:
                out = json.loads(resp.read())
            return sorted(json.loads(m["payload"])["i"] for m in out["messages"])

        key = post_config(TOPIC_B)

        # 2. data plane: three messages into topic A over HTTP
        produce(range(3))

        # 3. reconciler tick: desired (HTTP-registered config) vs running
        def start_fn(rows, ckpt):
            topic, = {r["topic_full_name"] for r in rows}
            stream = (
                spark.readStream.schema(MESSAGE_SCHEMA)
                .parquet(app.message_store.topic_dir(topic))
            )
            return deliver_multiplexed_stream(
                stream, routes(spark, rows), ckpt, query_name="lifecycle-delivery")

        rec = Reconciler(spark, str(tmp_path / "ckpts"), start_fn)
        started, _ = rec.reconcile(snapshot_df(spark, app.config_store))
        assert len(started) == 1
        rec.query.processAllAvailable()

        # 4. the deliveries re-produced onto topic B; read them back over HTTP
        assert poll(TOPIC_B) == [0, 1, 2]

        # 5. re-POST with the same URL and a new TopicFn: the next tick
        #    restarts the delivery with the new headers, resuming from the
        #    checkpoint, so only new messages flow, now onto topic C
        topic_c = "persistent://tenant1/ns1/egress-c"
        assert post_config(topic_c) == key
        first = rec.query
        assert rec.reconcile(snapshot_df(spark, app.config_store)) == ([], [])
        assert rec.query is not first and not first.isActive
        produce(range(3, 5))
        rec.query.processAllAvailable()
        assert poll(topic_c) == [3, 4]
        assert len(app.message_store.scan(TOPIC_B)[0]) == 3

        # 6. DELETE the config -> next tick stops the query
        req = urllib.request.Request(base + f"/v2/topic/{key}", method="DELETE")
        assert urllib.request.urlopen(req, timeout=10).status == 200
        _, stopped = rec.reconcile(snapshot_df(spark, app.config_store))
        assert len(stopped) == 1 and rec.query is None
    finally:
        httpd.shutdown()


def test_multiplexed_delivery_through_live_gateway(spark, tmp_path):
    """Multiplexed delivery over real sockets, zero mocks: FOUR webhook
    configs on one ingress topic, served by the reconciler's ONE
    StreamingQuery, each config's target the live gateway's own firehose
    re-addressed to a DIFFERENT egress topic; every egress topic then
    polls back all messages over HTTP. DELETE stops the query on the
    next tick."""
    from pulsar_beam_spark.model.config_store import snapshot_df
    from pulsar_beam_spark.streaming.reconciler import Reconciler

    app = GatewayApp(
        config_store=InMemoryConfigStore(),
        message_store=TopicDirStore(str(tmp_path / "topics")),
        keys=None,
        allowed_clusters=[PULSAR_URL],
        mode="hybrid",
        auth_impl="noauth",
    )
    httpd = make_server(app)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    egress = [f"persistent://tenant1/ns1/egress{i}" for i in range(4)]
    try:
        # 1. control plane: ONE topic, FOUR webhooks (each re-addressing
        #    to its own egress topic through the gateway firehose). URLs
        #    carry a distinguishing query string: the subscription key is
        #    key+url (reference webhook.go:252), so same-url webhooks on
        #    one topic deliberately collapse to one delivery.
        cfg = json.dumps({
            "TopicFullName": TOPIC_A,
            "PulsarUrl": PULSAR_URL,
            "Webhooks": [{
                "URL": base + f"/v1/firehose?cfg={i}",
                "Subscription": f"mux-sub-{i}",
                "InitialPosition": "earliest",
                "Headers": [f"TopicFn: {egress[i]}", f"PulsarUrl: {PULSAR_URL}"],
            } for i in range(4)],
        }).encode()
        req = urllib.request.Request(base + "/v2/topic", data=cfg, method="POST")
        with urllib.request.urlopen(req, timeout=10) as resp:
            assert resp.status == 201
            key = json.loads(resp.read())["key"]

        # 2. data plane: three messages into topic A over HTTP
        for i in range(3):
            r = urllib.request.Request(
                base + "/v1/firehose", data=f'{{"i": {i}}}'.encode(), method="POST",
                headers={"TopicFn": TOPIC_A, "PulsarUrl": PULSAR_URL})
            assert urllib.request.urlopen(r, timeout=10).status == 200

        # 3. reconciler tick: 4 desired configs -> ONE query with REAL
        #    HTTP sinks (default sink_factory)
        starts = []

        def start_fn(rows, ckpt):
            starts.append(len(rows))
            stream = (
                spark.readStream.schema(MESSAGE_SCHEMA)
                .parquet(app.message_store.topic_dir(TOPIC_A))
            )
            return deliver_multiplexed_stream(
                stream, routes(spark, rows), ckpt, query_name="mux-e2e")

        rec = Reconciler(spark, str(tmp_path / "mux-ckpts"), start_fn)
        started, _ = rec.reconcile(snapshot_df(spark, app.config_store))
        assert len(started) == 4 and starts == [4]
        rec.query.processAllAvailable()

        # 4. every egress topic took all three messages; poll over HTTP
        for t in egress:
            req = urllib.request.Request(
                base + "/v2/poll/persistent/tenant1/ns1/" + t.rsplit("/", 1)[1])
            with urllib.request.urlopen(req, timeout=10) as resp:
                out = json.loads(resp.read())
            assert out["size"] == 3, t
            assert sorted(json.loads(m["payload"])["i"] for m in out["messages"]) \
                == [0, 1, 2], t

        # 5. DELETE -> next tick stops the mux query entirely
        req = urllib.request.Request(base + f"/v2/topic/{key}", method="DELETE")
        assert urllib.request.urlopen(req, timeout=10).status == 200
        _, stopped = rec.reconcile(snapshot_df(spark, app.config_store))
        assert len(stopped) == 4 and rec.query is None
    finally:
        httpd.shutdown()
