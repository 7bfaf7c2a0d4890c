"""Delivery-layer never-loss fuzz (VERDICT r10 item 6).

The compaction interleaving machines (test_compaction.py) fuzz the
store/consumer side; webhook + multiplexed delivery with retry/ack/
reply and crash injection were goldened but not fuzzed. This machine
drives the REAL ``WebhookSink`` (retry/backoff/ack-on-2xx-and-422/
reply-header extraction — the code under test) through a model of the
foreachBatch epoch protocol whose semantics are pinned one-to-one by
the Spark goldens:

- batch failure (an endpoint exhausting retries) aborts the epoch:
  no reply append, no checkpoint commit, full redelivery next run
  (tests/test_streaming.py retry goldens);
- a crash BETWEEN the reply-table append and the checkpoint commit
  replays the same epoch id and appends the same deterministic reply
  ids again (tests/test_crash_chaos.py::
  test_reply_chain_replay_duplicates_collide_by_id);
- queries with independent checkpoints may share one reply table
  (one query per source, a redeployment onto a fresh checkpoint), and
  each redelivers from its own offsets — the machine runs a
  single-config query per endpoint beside one query over both, and may
  interleave ANY of them at any step.

The reply-id formula the model mints is anchored against the Spark
plan's actual output by ``test_reply_id_formula_anchor`` below, so the
machine's exactly-once-able assertions are about the real contract,
not a reimplementation.

What it asserts, across machine-chosen interleavings of produce /
single-config epochs / two-config epochs / endpoint flakiness flips / reply
toggles / crash-window injections:

1. NEVER LOSS: after healing and draining, every activated config's
   endpoint received every produced message at least once, first
   occurrences in produce order.
2. EXACTLY-ONCE-ABLE replies: reply-id collisions always carry an
   identical body — i.e. a downstream exact-dedup on message_id keeps
   one copy of every DISTINCT logical reply and drops only true
   duplicates. (Round-11 find: the src_key was once the bare source
   message_id, so two configs sharing a reply table at the same epoch
   number minted ONE id for two different endpoints' replies and dedup
   dropped a real reply — fixed by scoping src_key with the config
   URL, the same identity the reconciler keys subscriptions by.)
"""

from __future__ import annotations

import hashlib
import os

from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    invariant,
    rule,
    run_state_machine_as_test,
)

from pulsar_beam_spark.streaming.delivery import WebhookSink

TOPIC_A = "persistent://t/ns/fuzz-src"
REPLY_TOPIC = "persistent://t/ns/fuzz-reply"
URLS = ("http://ep-zero", "http://ep-one")
BATCH = 3


def mirror_reply_id(epoch: int, src_key: str, topic: str) -> str:
    """The _append_replies id formula (streaming/delivery.py) —
    anchored against the real Spark-minted ids by
    test_reply_id_formula_anchor."""
    digest = hashlib.sha1(f"{src_key}|{topic}".encode()).hexdigest()
    return f"reply-{epoch}-{digest}"


class DeliveryMachine(RuleBasedStateMachine):
    def __init__(self):
        super().__init__()
        self.msgs: list[dict] = []
        self.eps = {
            u: {"flaky": False, "replying": True, "received": []}
            for u in URLS
        }
        self.sinks = {
            u: WebhookSink(u, retry_max=1, retry_wait_min_s=0.0,
                           transport=self._transport)
            for u in URLS
        }
        # independent checkpoints: one per per-sub query, one for mux
        self.q = {u: {"cursor": 0, "epoch": 0} for u in URLS}
        self.q["mux"] = {"cursor": 0, "epoch": 0}
        self.reply_rows: list[tuple[str, bytes, str]] = []  # (id, body, src_key)

    # -- endpoint (the machine IS the webhook server) -------------------
    def _transport(self, url, body, headers):
        ep = self.eps[url]
        ep["received"].append(headers["PulsarMessageId"])
        if ep["flaky"]:
            return 500, {}, b""
        if ep.get("dropping"):
            # the reference's deliberate ack-and-drop (webhook.go:155):
            # 422 acks WITHOUT retry and never replies — the message
            # still counts as received (it reached the endpoint)
            return 422, {"TopicFn": REPLY_TOPIC}, b"ignored-on-422"
        if ep["replying"]:
            # the body names the CONFIG: distinct logical replies have
            # distinct bodies, so id conflation across configs is
            # detectable as a collision with differing bodies
            return 200, {"TopicFn": REPLY_TOPIC}, (
                b"pong:" + url.encode() + b":" + bytes(body))
        return 200, {}, b""

    # -- the foreachBatch protocol (semantics pinned by Spark goldens) --
    def _run_epoch(self, qkey: str, urls: tuple[str, ...], crash: bool):
        st_ = self.q[qkey]
        batch = self.msgs[st_["cursor"]: st_["cursor"] + BATCH]
        if not batch:
            return
        replies = []
        try:
            for rec in batch:           # stream-order rows...
                for u in urls:          # ...fanned to each routed config
                    acked, reply = self.sinks[u].push(rec)
                    if acked and reply is not None:
                        topic_fn, _purl, body = reply
                        src_key = f"{rec['message_id']}|{u}"
                        replies.append((
                            mirror_reply_id(st_["epoch"], src_key, topic_fn),
                            body, src_key))
        except RuntimeError:
            return  # retries exhausted: epoch aborted, no append, no commit
        self.reply_rows.extend(replies)  # the reply-append job committed
        if crash:
            return  # SIGKILL before the stream commit: epoch will replay
        st_["cursor"] += len(batch)
        st_["epoch"] += 1

    # -- rules -----------------------------------------------------------
    @rule(n=st.integers(1, 4))
    def produce(self, n):
        for _ in range(n):
            i = len(self.msgs)
            self.msgs.append({
                "message_id": f"m-{i:03d}",
                "topic": TOPIC_A,
                "payload": f"v{i}".encode(),
                "event_time": i,
                "publish_time": i,
                "properties": {},
            })

    @rule(u=st.sampled_from(URLS), crash=st.booleans())
    def per_sub_epoch(self, u, crash):
        self._run_epoch(u, (u,), crash)

    @rule(crash=st.booleans())
    def mux_epoch(self, crash):
        self._run_epoch("mux", URLS, crash)

    @rule(u=st.sampled_from(URLS), flaky=st.booleans())
    def set_flaky(self, u, flaky):
        self.eps[u]["flaky"] = flaky

    @rule(u=st.sampled_from(URLS), replying=st.booleans())
    def set_replying(self, u, replying):
        self.eps[u]["replying"] = replying

    @rule(u=st.sampled_from(URLS), dropping=st.booleans())
    def set_dropping(self, u, dropping):
        self.eps[u]["dropping"] = dropping

    def teardown_heal(self):
        for ep in self.eps.values():
            ep["flaky"] = False
            ep["dropping"] = False

    # -- invariants -------------------------------------------------------
    @invariant()
    def reply_collisions_are_true_duplicates(self):
        by_id: dict[str, tuple[bytes, str]] = {}
        for rid, body, src_key in self.reply_rows:
            prev = by_id.setdefault(rid, (body, src_key))
            assert prev == (body, src_key), (
                f"reply id {rid} conflates two distinct logical replies: "
                f"{prev} vs {(body, src_key)} — exact-dedup would LOSE one")

    def teardown(self):
        # heal and drain every query to the end of the log
        self.teardown_heal()
        for qkey, urls in (
                (URLS[0], (URLS[0],)), (URLS[1], (URLS[1],)), ("mux", URLS)):
            guard = 0
            while self.q[qkey]["cursor"] < len(self.msgs):
                self._run_epoch(qkey, urls, crash=False)
                guard += 1
                assert guard < 10_000, "drain did not converge"
        produced = [m["message_id"] for m in self.msgs]
        for u in URLS:
            got = self.eps[u]["received"]
            firsts = list(dict.fromkeys(got))
            assert set(firsts) == set(produced), (
                f"{u} lost messages: {sorted(set(produced) - set(firsts))}")
            assert firsts == produced, (
                f"{u}: first deliveries out of produce order")
        self.reply_collisions_are_true_duplicates()
        super().teardown()


def test_delivery_interleavings():
    run_state_machine_as_test(
        DeliveryMachine,
        settings=settings(
            max_examples=int(os.environ.get("PBS_FUZZ_EXAMPLES", "25")),
            stateful_step_count=40,
            deadline=None,
        ),
    )


def test_reply_id_formula_anchor(spark, tmp_path):
    """Pin mirror_reply_id to the REAL id the delivery plan mints
    (_append_replies + deliver_multiplexed_stream's src_key): one message, one
    replying endpoint, one epoch — the parquet row's message_id must
    equal the model's formula byte-for-byte. If the production formula
    changes, this fails before the fuzz machine can drift."""
    from datetime import datetime

    from .conftest import topic_routes
    from .test_streaming import MESSAGE_SCHEMA  # the envelope schema

    from pulsar_beam_spark.streaming.delivery import deliver_multiplexed_stream

    t0 = datetime(2024, 1, 1)
    msgs_dir = str(tmp_path / "msgs")
    spark.createDataFrame(
        [("m-anchor", TOPIC_A, None, b"payload", t0, t0, {})],
        MESSAGE_SCHEMA,
    ).coalesce(1).write.parquet(msgs_dir)

    def transport(url, body, headers):
        return 200, {"TopicFn": REPLY_TOPIC}, b"pong:" + bytes(body)

    reply_dir = str(tmp_path / "reply")
    sink = WebhookSink(URLS[0], transport=transport)
    q = deliver_multiplexed_stream(
        spark.readStream.schema(MESSAGE_SCHEMA).parquet(msgs_dir),
        topic_routes(spark, [TOPIC_A], sink.url), str(tmp_path / "ckpt"),
        sink_factory=lambda cfg: sink, reply_table_dir=reply_dir,
        query_name="reply-id-anchor",
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.read.schema(MESSAGE_SCHEMA).parquet(reply_dir).collect()
    assert len(rows) == 1
    want = mirror_reply_id(0, f"m-anchor|{URLS[0]}", REPLY_TOPIC)
    assert rows[0]["message_id"] == want
