"""Streaming golden tests (SURVEY.md §5.2 item 3): ingest envelope,
windowed aggs, stateful dedup, bounded poll, webhook delivery with
retry/ack/reply semantics, checkpoint-rollback redelivery, reconciler.

All run on a file-based message stream with Trigger.AvailableNow +
memory sinks so they complete synchronously.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from pulsar_beam_spark.model.message import MESSAGE_SCHEMA
from pulsar_beam_spark.model.topic import Webhook
from pulsar_beam_spark.streaming.delivery import WebhookSink, deliver_multiplexed_stream
from pulsar_beam_spark.streaming.ingest import envelope_with_headers
from pulsar_beam_spark.streaming.poll import bounded_poll
from pulsar_beam_spark.streaming.sse import gen_subscription_name, sse_frame
from pulsar_beam_spark.streaming.windows import dedup_stream, tumbling_counts

from .conftest import FakeQuery, routes, topic_routes

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _messages(n=40, dup_every=10):
    rows = []
    for i in range(n):
        mid = f"m-{i if i % dup_every or i == 0 else i - 1}"  # inject dups
        rows.append(
            (
                mid,
                f"persistent://tenant{i % 2}/ns/topic{i % 3}",
                str(i % 5),
                f'{{"v": {i}}}'.encode(),
                T0 + timedelta(minutes=i),
                T0 + timedelta(minutes=i, seconds=1),
                {"PulsarBeamId": f"uuid-{i}"},
            )
        )
    return rows


# every topic the msg_dir stream carries: one config per topic routes
# every row to a single endpoint
TOPICS = sorted({r[1] for r in _messages()})


@pytest.fixture()
def msg_dir(spark, tmp_path):
    d = str(tmp_path / "msgs")
    spark.createDataFrame(_messages(), MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    return d


def _run_available_now(stream_df, tmp_path, name, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def test_ingest_envelope_with_headers(spark, msg_dir):
    df = spark.read.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    env = envelope_with_headers(df)
    row = env.filter(F.col("message_id") == "m-0").head()
    import json

    payload = json.loads(bytes(row["payload"]).decode())
    assert payload["body"] == '{"v": 0}'
    assert payload["headers"]["PulsarBeamId"] == "uuid-0"


def test_tumbling_window_stream_matches_batch(spark, msg_dir, tmp_path):
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    agg = tumbling_counts(stream, width="10 minutes", watermark="5 minutes")
    got = _run_available_now(agg, tmp_path, "tumbling_out", output_mode="append").collect()
    batch = (
        spark.read.schema(MESSAGE_SCHEMA)
        .parquet(msg_dir)
        .groupBy(F.window("event_time", "10 minutes").alias("w"), "topic")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "topic", "n")
        .collect()
    )
    key = lambda r: (r["window_start"], r["topic"])
    got_map = {key(r): r["n"] for r in got}
    batch_map = {key(r): r["n"] for r in batch}
    # availableNow emits all closed windows; watermark may hold back the
    # final open window — everything emitted must match batch exactly
    assert got_map
    assert all(batch_map[k] == v for k, v in got_map.items())


def test_stateful_dedup_stream(spark, msg_dir, tmp_path):
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    out = _run_available_now(dedup_stream(stream), tmp_path, "dedup_out").collect()
    ids = [r["message_id"] for r in out]
    assert len(ids) == len(set(ids))
    distinct_input = (
        spark.read.schema(MESSAGE_SCHEMA).parquet(msg_dir).select("message_id").distinct().count()
    )
    assert len(ids) == distinct_input


def test_bounded_poll_envelope(spark, msg_dir, tmp_path):
    out = bounded_poll(spark, msg_dir, batch_size=10, checkpoint_dir=str(tmp_path / "poll1"))
    assert out is not None
    assert out["limit"] == 10 and out["size"] == 10 and len(out["messages"]) == 10
    # earliest-first: first message is the earliest event_time
    assert out["messages"][0]["message_id"] == "m-0"
    assert out["messages"][0]["payload"] == '{"v": 0}'


def test_bounded_poll_empty_is_204(spark, tmp_path):
    d = str(tmp_path / "empty")
    spark.createDataFrame([], MESSAGE_SCHEMA).write.parquet(d)
    assert bounded_poll(spark, d, batch_size=5, checkpoint_dir=str(tmp_path / "poll2")) is None


def test_bounded_poll_resumable_acks_only_delivered(spark, tmp_path):
    """VERDICT r06 #1 golden: a durable subscription must NOT lose backlog
    overflow. The reference acks only the messages it actually delivered
    (sse-broker.go:48-57), so 30 messages polled 10 at a time come back in
    three consecutive batches — the stream checkpoint committing the whole
    backlog on poll 1 (the old bug) made polls 2+ return 204."""
    d = str(tmp_path / "poll-resume")
    rows = _messages(30, dup_every=1000)
    spark.createDataFrame(rows, MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    ckpt = str(tmp_path / "poll-resume-ckpt")

    def ids(out):
        return [m["message_id"] for m in out["messages"]]

    p1 = bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt)
    assert ids(p1) == [f"m-{i}" for i in range(10)]
    p2 = bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt)
    assert ids(p2) == [f"m-{i}" for i in range(10, 20)], "poll 2 must return the overflow"
    p3 = bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt)
    assert ids(p3) == [f"m-{i}" for i in range(20, 30)]
    assert bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt) is None


def test_bounded_poll_resumable_interleaved_append(spark, tmp_path):
    """Messages appended BETWEEN polls are delivered by the next poll,
    after the remaining backlog, in (event_time, message_id) order — and
    a short poll (fewer rows available than batch_size) still advances
    the cursor past everything it delivered."""
    d = str(tmp_path / "poll-interleave")
    rows = _messages(12, dup_every=1000)
    spark.createDataFrame(rows[:8], MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    ckpt = str(tmp_path / "poll-interleave-ckpt")

    def ids(out):
        return [m["message_id"] for m in out["messages"]]

    p1 = bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)
    assert ids(p1) == [f"m-{i}" for i in range(5)]
    # producer appends 4 newer messages while m-5..m-7 are still backlog
    spark.createDataFrame(rows[8:], MESSAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)
    p2 = bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)
    assert ids(p2) == [f"m-{i}" for i in range(5, 10)]
    p3 = bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)
    assert ids(p3) == ["m-10", "m-11"]
    assert p3["size"] == 2
    assert bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt) is None


def _backfill(n, t0=T0, step_s=60, prefix="b"):
    """Messages stamped BEFORE the live window — a backfill producer or a
    clock step-back (ADVICE r07: event_time is not monotone across
    processes)."""
    return [
        (
            f"{prefix}-{i}",
            "persistent://tenant0/ns/topic0",
            "0",
            f'{{"bf": {i}}}'.encode(),
            t0 + timedelta(seconds=i * step_s),
            t0 + timedelta(seconds=i * step_s + 1),
            {"PulsarBeamId": f"bf-uuid-{i}"},
        )
        for i in range(n)
    ]


def _poll_ids(out):
    return [m["message_id"] for m in out["messages"]]


def test_bounded_poll_backfill_before_cursor_delivers(spark, tmp_path):
    """ADVICE r07 golden: a message landing AFTER a poll with an
    event_time at or before the cursor (backfill producer, clock
    step-back) must still be delivered — the old watermark-only cursor
    classified it as already-consumed history and silently dropped it."""
    d = str(tmp_path / "poll-backfill")
    live = _messages(20, dup_every=1000)[10:]  # m-10..m-19 at T0+10..19min
    spark.createDataFrame(live, MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    ckpt = str(tmp_path / "poll-backfill-ckpt")

    p1 = bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt)
    assert _poll_ids(p1) == [f"m-{i}" for i in range(10, 20)]

    # backfill lands AFTER the cursor advanced past its event times
    spark.createDataFrame(_backfill(5), MESSAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)
    p2 = bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt)
    assert p2 is not None, "backfill before the cursor was lost"
    assert _poll_ids(p2) == [f"b-{i}" for i in range(5)]
    # drained exactly once: no redelivery on subsequent polls
    assert bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt) is None
    assert bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt) is None


def test_bounded_poll_backfill_overflow_drains_in_order(spark, tmp_path):
    """A backfill larger than batch_size drains across successive polls
    through the per-file delivered-id boundary, in order, without
    redelivery — and the regression file retires from the cursor once
    fully drained (bounded cursor state)."""
    import json as _json

    d = str(tmp_path / "poll-bf-overflow")
    live = _messages(20, dup_every=1000)[10:]
    spark.createDataFrame(live, MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    ckpt = str(tmp_path / "poll-bf-overflow-ckpt")
    bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt)

    spark.createDataFrame(_backfill(12, step_s=10), MESSAGE_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(d)
    p = bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)
    assert _poll_ids(p) == [f"b-{i}" for i in range(5)]
    p = bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)
    assert _poll_ids(p) == [f"b-{i}" for i in range(5, 10)]
    p = bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)
    assert _poll_ids(p) == ["b-10", "b-11"] and p["size"] == 2
    assert bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt) is None
    with open(os.path.join(ckpt, "CURSOR")) as f:
        state = _json.load(f)
    assert state["regress"] == {}, "drained regression file must retire"


def test_bounded_poll_backfill_interleaves_with_new(spark, tmp_path):
    """Backfilled history and freshly-produced messages arriving between
    the same two polls come back merged in (event_time, message_id)
    order: the backfill (earlier stamps) first."""
    d = str(tmp_path / "poll-bf-mixed")
    rows = _messages(23, dup_every=1000)
    spark.createDataFrame(rows[10:20], MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    ckpt = str(tmp_path / "poll-bf-mixed-ckpt")
    bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt)

    spark.createDataFrame(_backfill(3), MESSAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)
    spark.createDataFrame(rows[20:], MESSAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)
    p = bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt)
    assert _poll_ids(p) == ["b-0", "b-1", "b-2", "m-20", "m-21", "m-22"]
    assert bounded_poll(spark, d, batch_size=10, checkpoint_dir=ckpt) is None


def test_bounded_poll_backfill_straddles_cursor(spark, tmp_path):
    """One late file carrying rows BOTH below and above the high-water
    mark: the below-mark rows drain via the id-set boundary, the
    above-mark rows via the order-key predicate, across polls whose
    batch boundary cuts between the two — then the file retires."""
    import json as _json

    d = str(tmp_path / "poll-straddle")
    live = _messages(12, dup_every=1000)[10:]  # m-10, m-11
    spark.createDataFrame(live, MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    ckpt = str(tmp_path / "poll-straddle-ckpt")
    bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)

    mixed = _backfill(2) + _messages(22, dup_every=1000)[20:]  # b-0 b-1 m-20 m-21
    spark.createDataFrame(mixed, MESSAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)
    p = bounded_poll(spark, d, batch_size=2, checkpoint_dir=ckpt)
    assert _poll_ids(p) == ["b-0", "b-1"]
    p = bounded_poll(spark, d, batch_size=2, checkpoint_dir=ckpt)
    assert _poll_ids(p) == ["m-20", "m-21"]
    assert bounded_poll(spark, d, batch_size=2, checkpoint_dir=ckpt) is None
    with open(os.path.join(ckpt, "CURSOR")) as f:
        assert _json.load(f)["regress"] == {}


def test_bounded_poll_backfill_with_max_files_per_trigger(spark, tmp_path):
    """Regression delivery composes with maxFilesPerTrigger: the backlog
    splits into several micro-batches, each contributing its earliest
    rows, and the merged result still drains backfill-first in order."""
    d = str(tmp_path / "poll-bf-mft")
    live = _messages(12, dup_every=1000)[10:]
    spark.createDataFrame(live, MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    ckpt = str(tmp_path / "poll-bf-mft-ckpt")
    bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt,
                 max_files_per_trigger=1)
    for chunk in (_backfill(1), _backfill(1, step_s=120, prefix="c"),
                  _messages(21, dup_every=1000)[20:]):
        spark.createDataFrame(chunk, MESSAGE_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(d)
    p = bounded_poll(spark, d, batch_size=2, checkpoint_dir=ckpt,
                     max_files_per_trigger=1)
    assert _poll_ids(p) == ["b-0", "c-0"]
    p = bounded_poll(spark, d, batch_size=2, checkpoint_dir=ckpt,
                     max_files_per_trigger=1)
    assert _poll_ids(p) == ["m-20"]


def test_bounded_poll_file_racing_the_listing_never_redelivers(spark, tmp_path, monkeypatch):
    """A file landing between the directory listing and the stream
    snapshot delivers rows that poll but is NOT in the persisted seen
    set. Its id record must survive until a poll actually lists it —
    retiring it early would re-flag the file as a fresh regression next
    poll (footer min <= mark, no delivered ids) and redeliver."""
    import json as _json

    import pulsar_beam_spark.streaming.poll as poll_mod

    d = str(tmp_path / "poll-race")
    live = _messages(12, dup_every=1000)[10:]  # m-10, m-11
    spark.createDataFrame(live, MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    ckpt = str(tmp_path / "poll-race-ckpt")
    bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)

    # n-20 lands "during" poll 2: on disk (the stream reads it) but
    # hidden from that poll's directory listing
    racer = _messages(21, dup_every=1000)[20:]
    spark.createDataFrame(racer, MESSAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)
    with open(os.path.join(ckpt, "CURSOR")) as f:
        seen_before = set(_json.load(f)["seen_files"])
    real_listdir = os.listdir

    def hiding_listdir(path):
        out = real_listdir(path)
        if os.path.abspath(path) == os.path.abspath(d):
            out = [f for f in out if f in seen_before or not f.endswith(".parquet")]
        return out

    monkeypatch.setattr(poll_mod.os, "listdir", hiding_listdir)
    p2 = bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)
    monkeypatch.undo()
    assert _poll_ids(p2) == ["m-20"]
    with open(os.path.join(ckpt, "CURSOR")) as f:
        state = _json.load(f)
    assert state["regress"], "racing file's delivered ids must be retained"

    # next poll lists the file normally: nothing redelivers, and the
    # record retires into the seen set
    assert bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt) is None
    with open(os.path.join(ckpt, "CURSOR")) as f:
        state = _json.load(f)
    assert state["regress"] == {}


def test_bounded_poll_live_producer_race_no_loss_no_dup(spark, tmp_path):
    """Zero-mock concurrency stress: a producer thread appends through
    TopicDirStore WHILE a resumable subscriber polls in a loop. Every
    interleaving — files landing mid-poll, between the listing and the
    stream snapshot, after the cursor write — must deliver every message
    exactly once (the regression machinery absorbs whatever the race
    produces)."""
    import threading

    from pulsar_beam_spark.server.store import TopicDirStore

    store = TopicDirStore(str(tmp_path / "race-store"), flush_interval_s=None)
    topic = "persistent://t/ns/race"
    d = store.topic_dir(topic)
    ckpt = str(tmp_path / "race-ckpt")
    n_msgs = 40

    def produce():
        for i in range(n_msgs):
            store.append(topic, f"payload-{i}".encode(), key=str(i))

    t = threading.Thread(target=produce)
    t.start()
    got: list[str] = []
    idle = 0
    while idle < 3:  # three consecutive empty polls after the producer ends
        out = bounded_poll(spark, d, batch_size=7, checkpoint_dir=ckpt)
        if out is None:
            idle += 1 if not t.is_alive() else 0
            continue
        idle = 0
        got.extend(m["payload"].split("-")[1] for m in out["messages"])
    t.join()
    assert sorted(got, key=int) == [str(i) for i in range(n_msgs)]


def test_bounded_poll_statless_backfill_file(spark, tmp_path):
    """A late file whose parquet footer carries no column statistics
    cannot be classified by min(event_time); the detector must treat it
    conservatively as a regression file (deliver via the id-set
    boundary) rather than trust the order-key predicate — and it still
    retires after draining."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "poll-nostats")
    live = _messages(12, dup_every=1000)[10:]
    spark.createDataFrame(live, MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    ckpt = str(tmp_path / "poll-nostats-ckpt")
    bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)

    arrow_schema = pa.schema([
        pa.field("message_id", pa.string(), nullable=False),
        pa.field("topic", pa.string(), nullable=False),
        pa.field("key", pa.string()),
        pa.field("payload", pa.binary()),
        pa.field("event_time", pa.timestamp("us"), nullable=False),
        pa.field("publish_time", pa.timestamp("us"), nullable=False),
        pa.field("properties", pa.map_(pa.string(), pa.string())),
    ])
    rows = [{"message_id": "b-0", "topic": "persistent://t/ns/a", "key": None,
             "payload": b"x", "event_time": T0, "publish_time": T0,
             "properties": []}]
    pq.write_table(pa.Table.from_pylist(rows, schema=arrow_schema),
                   os.path.join(d, "backfill-nostats.parquet"),
                   write_statistics=False)
    p = bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)
    assert _poll_ids(p) == ["b-0"]
    assert bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt) is None
    with open(os.path.join(ckpt, "CURSOR")) as f:
        assert _json.load(f)["regress"] == {}


def test_bounded_poll_pre_fix_cursor_upgrade(spark, tmp_path):
    """A cursor written before the regression fix (no seen_files) keeps
    its exact old semantics on the upgrade poll — current files count as
    seen, the order-key predicate resumes the backlog — and regression
    detection engages for files landing from then on."""
    import json as _json

    d = str(tmp_path / "poll-upgrade")
    live = _messages(20, dup_every=1000)[10:]
    spark.createDataFrame(live, MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    ckpt = str(tmp_path / "poll-upgrade-ckpt")
    p1 = bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)
    assert _poll_ids(p1) == [f"m-{i}" for i in range(10, 15)]
    # rewrite the cursor in the pre-fix format (hwm only)
    with open(os.path.join(ckpt, "CURSOR")) as f:
        state = _json.load(f)
    with open(os.path.join(ckpt, "CURSOR"), "w") as f:
        _json.dump({"event_time_us": state["event_time_us"],
                    "message_id": state["message_id"]}, f)

    p2 = bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)
    assert _poll_ids(p2) == [f"m-{i}" for i in range(15, 20)]
    spark.createDataFrame(_backfill(2), MESSAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)
    p3 = bounded_poll(spark, d, batch_size=5, checkpoint_dir=ckpt)
    assert _poll_ids(p3) == ["b-0", "b-1"]


class _Transport:
    """Scriptable fake webhook endpoint: list of (status, headers, body).

    Delivery runs executor-side (forked Python workers), so in-memory
    call recording is invisible to the driver; pass ``spool`` (a shared
    tmp dir) to record calls through the filesystem instead.
    """

    def __init__(self, script, spool=None):
        self.script = list(script)
        self.spool = str(spool) if spool is not None else None
        self._local_calls = []

    def __call__(self, url, body, headers):
        rec = (url, bytes(body), dict(headers))
        if self.spool:
            import os
            import pickle
            import uuid

            os.makedirs(self.spool, exist_ok=True)
            path = os.path.join(self.spool, f"{os.getpid()}-{uuid.uuid4().hex}.pkl")
            with open(path, "wb") as f:
                pickle.dump(rec, f)
        else:
            self._local_calls.append(rec)
        return self.script.pop(0) if len(self.script) > 1 else self.script[0]

    @property
    def calls(self):
        if not self.spool:
            return self._local_calls
        import os
        import pickle

        out = []
        if os.path.isdir(self.spool):
            for fn in sorted(os.listdir(self.spool)):
                with open(os.path.join(self.spool, fn), "rb") as f:
                    out.append(pickle.load(f))
        return out


def test_webhook_sink_ack_semantics():
    row = {
        "message_id": "m-1",
        "topic": "persistent://t/ns/a",
        "payload": b'{"x": 1}',
        "event_time": T0,
        "publish_time": T0,
        "properties": {"PulsarBeamId": "u1"},
    }
    ok = _Transport([(200, {}, b"")])
    acked, reply = WebhookSink("http://h", transport=ok).push(row)
    assert acked and reply is None
    # enriched headers reach the endpoint (webhook.go:223-236 parity)
    _, _, hdrs = ok.calls[0]
    assert hdrs["PulsarMessageId"] == "m-1"
    assert hdrs["Content-Type"] == "application/json"
    assert hdrs["PulsarBeamId"] == "u1"

    # 422 acks-and-drops (webhook.go:155)
    acked, reply = WebhookSink("http://h", transport=_Transport([(422, {}, b"")])).push(row)
    assert acked and reply is None

    # 500 then 200: one retry succeeds
    t = _Transport([(500, {}, b""), (200, {}, b"")])
    sink = WebhookSink("http://h", transport=t, retry_wait_min_s=0.0)
    acked, _ = sink.push(row)
    assert acked and len(t.calls) == 2

    # retries exhausted -> raises (no-ack -> redelivery)
    with pytest.raises(RuntimeError):
        WebhookSink("http://h", transport=_Transport([(503, {}, b"")]), retry_wait_min_s=0.0).push(row)

    # reply chain: 2xx with TopicFn header produces (topic, url, body)
    t = _Transport([(200, {"TopicFn": "persistent://t/ns/reply", "PulsarUrl": "pulsar://c:6650"}, b"pong")])
    acked, reply = WebhookSink("http://h", transport=t).push(row)
    assert acked and reply == ("persistent://t/ns/reply", "pulsar://c:6650", b"pong")


def test_delivery_stream_end_to_end_with_reply(spark, msg_dir, tmp_path):
    """G2+G3: deliver the stream to a stub endpoint; replies append to a
    second table (the chained-stream 'sink source' loop)."""
    t = _Transport(
        [(200, {"TopicFn": "persistent://t/ns/reply"}, b"reply-body")],
        spool=tmp_path / "spool-reply",
    )
    sink = WebhookSink("http://stub", transport=t)
    reply_dir = str(tmp_path / "reply-table")
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    q = deliver_multiplexed_stream(
        stream,
        topic_routes(spark, ["persistent://tenant0/ns/topic0"], sink.url),
        str(tmp_path / "ckpt-deliver"),
        sink_factory=lambda cfg: sink,
        reply_table_dir=reply_dir,
    )
    # availableNow not set on the delivery query: drive it until idle
    q.processAllAvailable()
    q.stop()
    assert len(t.calls) > 0
    replies = spark.read.schema(MESSAGE_SCHEMA).parquet(reply_dir).collect()
    assert len(replies) == len(t.calls)
    assert all(r["topic"] == "persistent://t/ns/reply" for r in replies)
    assert bytes(replies[0]["payload"]) == b"reply-body"
    # executor-side in-plan stamping (round 6): unique reply-prefixed ids,
    # produce-time timestamps, and the PulsarUrl property survive the
    # no-driver-round-trip append
    assert all(r["message_id"].startswith("reply-") for r in replies)
    assert len({r["message_id"] for r in replies}) == len(replies)
    assert all(r["event_time"] is not None and r["publish_time"] is not None for r in replies)
    assert all("PulsarUrl" in dict(r["properties"]) for r in replies)


def test_delivery_redelivers_after_failure(spark, msg_dir, tmp_path):
    """S8 at-least-once: a failing endpoint fails the batch; restarting
    from the same checkpoint redelivers the messages."""
    ckpt = str(tmp_path / "ckpt-redeliver")
    bad = WebhookSink("http://stub", transport=_Transport([(503, {}, b"")]), retry_max=0)
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    q = deliver_multiplexed_stream(stream, topic_routes(spark, TOPICS, bad.url), ckpt,
                                   sink_factory=lambda cfg: bad, query_name="redeliver-a")
    with pytest.raises(Exception):
        q.processAllAvailable()
        raise RuntimeError("expected stream failure")
    q.stop()

    good = _Transport([(200, {}, b"")], spool=tmp_path / "spool-good")
    stream2 = spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    good_sink = WebhookSink("http://stub", transport=good)
    q2 = deliver_multiplexed_stream(stream2, topic_routes(spark, TOPICS, good_sink.url), ckpt,
                                    sink_factory=lambda cfg: good_sink, query_name="redeliver-b")
    q2.processAllAvailable()
    q2.stop()
    delivered = {h["PulsarMessageId"] for _, _, h in good.calls}
    expected = {r["message_id"] for r in spark.read.schema(MESSAGE_SCHEMA).parquet(msg_dir).collect()}
    assert delivered == expected


def test_reconciler_start_stop(spark, tmp_path):
    """G9: activated (topic x webhook) pairs start once; deactivation stops."""
    from pulsar_beam_spark.model.config_store import ConfigStore
    from pulsar_beam_spark.streaming.reconciler import Reconciler

    store = ConfigStore(spark, str(tmp_path / "cfg"))
    store.update(
        "persistent://t1/ns/a", "pulsar://c:6650",
        [Webhook("http://h1.example.com/cb", "subs-a"), Webhook("http://h2.example.com/cb", "subs-b")],
    )

    started = []

    def start_fn(rows, ckpt):
        started.append(sorted(r["url"] for r in rows))
        return FakeQuery(rows, ckpt)

    rec = Reconciler(spark, str(tmp_path / "ckpts"), start_fn)
    s, t = rec.reconcile(store.snapshot())
    assert len(s) == 2 and not t and started == [["http://h1.example.com/cb", "http://h2.example.com/cb"]]

    # steady state: nothing new
    s, t = rec.reconcile(store.snapshot())
    assert not s and not t and len(started) == 1

    # drop one webhook -> its coverage stops
    store.update("persistent://t1/ns/a", "pulsar://c:6650", [Webhook("http://h1.example.com/cb", "subs-a")])
    old = rec.query
    s, t = rec.reconcile(store.snapshot())
    assert not s and len(t) == 1
    assert old.stopped and started[-1] == ["http://h1.example.com/cb"]


def test_multiplexed_delivery_parity_24_configs(spark, msg_dir, tmp_path):
    """VERDICT r06 #3 golden: ONE StreamingQuery serves 24 webhook configs
    (6 topics x 4 webhooks) with per-config delivery/ack/reply parity to
    a single-config query — every (message row x matching config)
    delivered exactly once, every 2xx TopicFn reply appended."""
    from pulsar_beam_spark.model.config_store import ConfigStore
    from pulsar_beam_spark.streaming.reconciler import desired_deliveries

    topics = [f"persistent://tenant{i}/ns/topic{j}" for i in range(2) for j in range(3)]
    store = ConfigStore(spark, str(tmp_path / "cfg-mux"))
    urls = {}
    for t in topics:
        hooks = [Webhook(f"http://{t.split('/')[2]}-{t[-1]}-{k}.example.com/cb", f"sub-{k}")
                 for k in range(4)]
        urls[t] = [w.url for w in hooks]
        store.update(t, "pulsar://c:6650", hooks)
    configs = desired_deliveries(store.snapshot())
    assert configs.count() == 24

    transport = _Transport(
        [(200, {"TopicFn": "persistent://t/ns/reply"}, b"pong")],
        spool=tmp_path / "spool-mux",
    )

    def sink_factory(cfg):
        return WebhookSink(cfg["url"], headers=cfg["headers"], transport=transport)

    reply_dir = str(tmp_path / "reply-mux")
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    q = deliver_multiplexed_stream(
        stream, configs, str(tmp_path / "ckpt-mux"),
        sink_factory=sink_factory, reply_table_dir=reply_dir,
    )
    q.processAllAvailable()
    q.stop()

    msgs = spark.read.schema(MESSAGE_SCHEMA).parquet(msg_dir).collect()
    # PulsarBeamId is unique per message ROW (message_id has injected dups)
    expected = {
        (u, r["properties"]["PulsarBeamId"]) for r in msgs for u in urls[r["topic"]]
    }
    got = [(u, h["PulsarBeamId"]) for u, _, h in transport.calls]
    assert set(got) == expected and len(got) == len(expected) == len(msgs) * 4

    # header enrichment reaches every config's endpoint
    sample_url, _, sample_hdrs = transport.calls[0]
    assert "PulsarMessageId" in sample_hdrs and "PulsarTopic" in sample_hdrs
    # reply parity: one reply per delivery, appended to the chain table
    replies = spark.read.schema(MESSAGE_SCHEMA).parquet(reply_dir).collect()
    assert len(replies) == len(expected)
    assert all(r["topic"] == "persistent://t/ns/reply" for r in replies)

    # a query serving ONE of the 24 configs delivers exactly the rows the
    # 24-config query delivered for that config (parity cross-check)
    one = configs.filter(F.col("url") == urls[topics[0]][0]).head().asDict()
    solo = _Transport([(200, {}, b"")], spool=tmp_path / "spool-solo")
    q2 = deliver_multiplexed_stream(
        spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir),
        routes(spark, [one]), str(tmp_path / "ckpt-solo"),
        sink_factory=lambda cfg: WebhookSink(cfg["url"], headers=cfg["headers"], transport=solo),
        query_name="solo-parity",
    )
    q2.processAllAvailable()
    q2.stop()
    solo_ids = {h["PulsarBeamId"] for _, _, h in solo.calls}
    mux_ids = {bid for u, bid in got if u == one["url"]}
    assert solo_ids == mux_ids and solo_ids


def test_multiplexed_delivery_shared_fate_redelivery(spark, msg_dir, tmp_path):
    """The documented multiplexing trade: one poison endpoint fails the
    shared micro-batch; after the endpoint recovers, restarting from the
    same checkpoint redelivers and every config converges (at-least-once,
    nothing lost)."""
    from pulsar_beam_spark.model.config_store import ConfigStore
    from pulsar_beam_spark.streaming.reconciler import desired_deliveries

    topic = "persistent://tenant0/ns/topic0"
    store = ConfigStore(spark, str(tmp_path / "cfg-fate"))
    store.update(topic, "pulsar://c:6650",
                 [Webhook("http://ok.example.com/cb", "s1"),
                  Webhook("http://poison.example.com/cb", "s2")])
    configs = desired_deliveries(store.snapshot())

    class _PoisonTransport(_Transport):
        def __call__(self, url, body, headers):
            super().__call__(url, body, headers)
            return (503, {}, b"") if "poison" in url else (200, {}, b"")

    ckpt = str(tmp_path / "ckpt-fate")

    def bad_factory(cfg):
        return WebhookSink(cfg["url"], headers=cfg["headers"], retry_max=0,
                           retry_wait_min_s=0.0,
                           transport=_PoisonTransport([(0, {}, b"")],
                                                      spool=tmp_path / "spool-bad"))

    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    q = deliver_multiplexed_stream(stream, configs, ckpt, sink_factory=bad_factory,
                                   query_name="fate-a")
    with pytest.raises(Exception):
        q.processAllAvailable()
        raise RuntimeError("expected shared-batch failure")
    q.stop()

    good = _Transport([(200, {}, b"")], spool=tmp_path / "spool-goodmux")

    def good_factory(cfg):
        return WebhookSink(cfg["url"], headers=cfg["headers"], transport=good)

    q2 = deliver_multiplexed_stream(
        spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir),
        configs, ckpt, sink_factory=good_factory, query_name="fate-b",
    )
    q2.processAllAvailable()
    q2.stop()
    msgs = [r for r in spark.read.schema(MESSAGE_SCHEMA).parquet(msg_dir).collect()
            if r["topic"] == topic]
    expected = {
        (u, r["properties"]["PulsarBeamId"])
        for r in msgs
        for u in ("http://ok.example.com/cb", "http://poison.example.com/cb")
    }
    got = {(u, h["PulsarBeamId"]) for u, _, h in good.calls}
    assert got == expected and expected


def test_reconciler_runs_one_query_with_one_checkpoint(spark, tmp_path):
    """The reconciler runs ONE delivery query over the whole desired set at
    every fleet size: a steady tick never restarts it; a membership change
    restarts it on the SAME checkpoint dir (file-source offsets resume,
    no backlog replay) and reports only the added/removed sub_keys; a
    terminated query is restarted; an empty desired set stops it and
    reports every key stopped."""
    from pulsar_beam_spark.model.config_store import ConfigStore
    from pulsar_beam_spark.streaming.reconciler import Reconciler

    store = ConfigStore(spark, str(tmp_path / "cfg-one"))
    queries = []

    def start_fn(rows, ckpt):
        queries.append(FakeQuery(rows, ckpt))
        return queries[-1]

    rec = Reconciler(spark, str(tmp_path / "ckpts-one"), start_fn)

    def set_hooks(lo, hi):
        store.update("persistent://t/ns/a", "pulsar://c:6650",
                     [Webhook(f"http://h{i}.example.com/cb", f"s{i}") for i in range(lo, hi)])

    def urls(q):
        return sorted(r["url"] for r in q.rows)

    def key_of(keys, i):
        k, = [k for k in keys if f"//h{i}." in k]
        return k

    set_hooks(0, 2)
    s, t = rec.reconcile(store.snapshot())
    assert len(queries) == 1 and rec.query is queries[0]
    assert urls(queries[0]) == ["http://h0.example.com/cb", "http://h1.example.com/cb"]
    assert sorted(s) == sorted(r["sub_key"] for r in queries[0].rows) and not t
    ckpt = queries[0].checkpoint_dir
    assert os.path.isdir(ckpt)
    h0_key = key_of(s, 0)

    # steady state: same desired set -> the query is NOT restarted
    assert rec.reconcile(store.snapshot()) == ([], [])
    assert len(queries) == 1 and not queries[0].stopped

    # h0 removed and h2 added on one tick: restart on the same checkpoint
    set_hooks(1, 3)
    s, t = rec.reconcile(store.snapshot())
    assert len(queries) == 2 and queries[0].stopped and rec.query is queries[1]
    assert queries[1].checkpoint_dir == ckpt
    assert urls(queries[1]) == ["http://h1.example.com/cb", "http://h2.example.com/cb"]
    assert s == [key_of(s, 2)] and t == [h0_key]

    # a fleet past the old 32-config multiplex threshold and back down
    # stays ONE query on ONE checkpoint (no mode flip, no replay)
    set_hooks(1, 40)
    s, t = rec.reconcile(store.snapshot())
    assert len(s) == 37 and not t and len(queries[-1].rows) == 39
    set_hooks(1, 3)
    s, t = rec.reconcile(store.snapshot())
    assert not s and len(t) == 37 and urls(queries[-1]) == urls(queries[1])
    assert len(queries) == 4 and {q.checkpoint_dir for q in queries} == {ckpt}
    assert [q for q in queries if not q.stopped] == [rec.query]

    # a terminated query is healed on the next full tick, same checkpoint
    rec.query.stopped = True
    assert rec.reconcile(store.snapshot()) == ([], [])
    assert len(queries) == 5 and rec.query is queries[4]
    assert queries[4].checkpoint_dir == ckpt and urls(queries[4]) == urls(queries[1])

    # empty desired set: the query stops, every key reported stopped
    served = sorted(r["sub_key"] for r in rec.query.rows)
    set_hooks(0, 0)
    s, t = rec.reconcile(store.snapshot())
    assert not s and sorted(t) == served
    assert rec.query is None and queries[4].stopped and len(queries) == 5
    assert rec.reconcile(store.snapshot()) == ([], []) and len(queries) == 5


def test_reconciler_restarts_on_header_edit(spark, tmp_path):
    """A config edit that keeps the URL (POST /v2/topic with new Headers,
    here a different TopicFn reply target) must reach the running
    delivery: the query holds a frozen config snapshot, so the reconciler
    restarts it with the new headers on the same checkpoint. The sub_key
    (key + url) is unchanged, so nothing is reported started or stopped."""
    from pulsar_beam_spark.model.config_store import ConfigStore
    from pulsar_beam_spark.streaming.reconciler import Reconciler

    store = ConfigStore(spark, str(tmp_path / "cfg-hdr"))
    queries = []

    def start_fn(rows, ckpt):
        queries.append(FakeQuery(rows, ckpt))
        return queries[-1]

    rec = Reconciler(spark, str(tmp_path / "ckpts-hdr"), start_fn)

    def set_reply(target):
        store.update("persistent://t/ns/a", "pulsar://c:6650",
                     [Webhook("http://fn.example.com/cb", "s", headers=[f"TopicFn: {target}"])])

    set_reply("persistent://t/ns/reply-a")
    s, t = rec.reconcile(store.snapshot())
    assert len(s) == 1 and not t and len(queries) == 1

    set_reply("persistent://t/ns/reply-b")
    assert rec.reconcile(store.snapshot()) == ([], [])
    assert len(queries) == 2 and queries[0].stopped and rec.query is queries[1]
    assert list(queries[1].rows[0]["headers"]) == ["TopicFn: persistent://t/ns/reply-b"]
    assert queries[1].checkpoint_dir == queries[0].checkpoint_dir


def test_sse_stream_order_and_at_most_once(spark, tmp_path):
    """sse_stream goldens (G4): frames emit in (event_time, message_id)
    order even for a multi-partition micro-batch, and a dying client
    drops its in-flight frames WITHOUT failing the batch — the
    reference's ack-before-write at-most-once (handlers.go:227-231):
    a resumed subscription continues AFTER the dropped frames, never
    redelivering them."""
    from pulsar_beam_spark.streaming.sse import sse_stream

    src = str(tmp_path / "sse-src")
    rows = [(f"m-{i:02d}", "persistent://t/ns/a", None, f"p{i}".encode(),
             T0 + timedelta(minutes=i), T0 + timedelta(minutes=i),
             {"PulsarBeamId": f"u-{i}"}) for i in range(12)]
    # shuffled 8-partition write: a plain partition-order collect would
    # interleave these
    spark.createDataFrame(rows[:8], MESSAGE_SCHEMA).repartition(8) \
        .write.parquet(src)
    ckpt = str(tmp_path / "sse-ckpt")

    got: list[str] = []
    q = sse_stream(
        spark.readStream.schema(MESSAGE_SCHEMA).parquet(src), got.append, ckpt,
    )
    q.processAllAvailable()
    q.stop()
    assert got == [f"id: m-{i:02d}\ndata: p{i}\n\n" for i in range(8)]

    # dying client: accepts 2 frames of the next batch, then the socket
    # "closes" — the batch must still commit (at-most-once)
    spark.createDataFrame(rows[8:], MESSAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    flaky: list[str] = []

    def dying_client(frame):
        if len(flaky) >= 2:
            raise BrokenPipeError("client went away")
        flaky.append(frame)

    q = sse_stream(
        spark.readStream.schema(MESSAGE_SCHEMA).parquet(src), dying_client, ckpt,
        query_name="sse-dying",
    )
    q.processAllAvailable()  # must NOT raise: batch commits
    q.stop()
    assert flaky == [f"id: m-{i:02d}\ndata: p{i}\n\n" for i in (8, 9)]

    # the committed batch is gone for this subscription: a reconnected
    # client sees only messages newer than the dropped ones
    spark.createDataFrame(
        [("m-99", "persistent://t/ns/a", None, b"p99",
          T0 + timedelta(minutes=99), T0 + timedelta(minutes=99),
          {"PulsarBeamId": "u-99"})], MESSAGE_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    resumed: list[str] = []
    q = sse_stream(
        spark.readStream.schema(MESSAGE_SCHEMA).parquet(src), resumed.append,
        ckpt, query_name="sse-resumed",
    )
    q.processAllAvailable()
    q.stop()
    assert resumed == ["id: m-99\ndata: p99\n\n"]  # m-10/m-11 lost by design


def test_sse_helpers():
    name = gen_subscription_name()
    assert name.startswith("NonResumable") and len(name) >= 24
    frame = sse_frame("m-1", b"hello")
    assert frame == "id: m-1\ndata: hello\n\n"


def test_stateful_ttl_running_counts(spark, tmp_path):
    """S-custom: applyInPandasWithState running counts accumulate ACROSS
    micro-batches (proving per-key state survives batch boundaries)."""
    from pulsar_beam_spark.streaming.stateful import running_counts_with_ttl

    d = str(tmp_path / "msgs2")
    rows = _messages(n=40, dup_every=10**9)  # no dups
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], MESSAGE_SCHEMA).coalesce(1).write.parquet(d)
    spark.createDataFrame(rows[half:], MESSAGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = running_counts_with_ttl(stream, key_col="topic", ttl_ms=3_600_000)
    got = _run_available_now(out, tmp_path, "ttl_counts", output_mode="update").collect()

    # final (latest) emission per key must equal the batch ground truth
    latest: dict[str, tuple] = {}
    for r in got:
        latest[r["key"]] = (r["n_messages"], r["total_bytes"], r["expired"])
    batch = spark.read.schema(MESSAGE_SCHEMA).parquet(d)
    truth = {
        r["topic"]: (r["n"], r["b"])
        for r in batch.groupBy("topic")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.octet_length("payload")).alias("b"),
        )
        .collect()
    }
    assert set(latest) == set(truth)
    for k, (n, b) in truth.items():
        assert latest[k] == (n, b, False), f"{k}: {latest[k]} != {(n, b)}"
    # with maxFilesPerTrigger=1 there were >=2 batches, so some key must
    # have emitted more than one update row (state carried forward)
    assert len(got) > len(truth)


def test_stream_static_routing_join(spark, msg_dir, tmp_path):
    """S9: the message stream joins a broadcast static config dim on
    topic — the routing lookup that drives fan-out (G9's data plane)."""
    configs = spark.createDataFrame(
        [
            (f"persistent://tenant{i % 2}/ns/topic{i % 3}", f"http://hook-{i % 3}.example.com", 1)
            for i in range(6)
        ],
        "topic_full_name string, url string, status int",
    ).dropDuplicates(["topic_full_name"])

    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    routed = stream.join(
        F.broadcast(configs.filter(F.col("status") == 1)),
        stream.topic == configs.topic_full_name,
    ).select("message_id", "topic", "url")

    got = _run_available_now(routed, tmp_path, "routing_out").collect()
    batch = spark.read.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    cfg_topics = {r["topic_full_name"]: r["url"] for r in configs.collect()}
    expected = [r for r in batch.collect() if r["topic"] in cfg_topics]
    assert len(got) == len(expected)
    assert all(cfg_topics[r["topic"]] == r["url"] for r in got)


# == G11: admission control ==============================================

def test_semaphore_reference_parity():
    """Ports reference TestSemaphore verbatim
    (src/unit-test/middleware_test.go:152-174)."""
    from pulsar_beam_spark.streaming.admission import Semaphore, SemaphoreError

    sema = Semaphore(2)
    with pytest.raises(SemaphoreError, match="all semaphore buffer empty"):
        sema.release()
    sema.acquire()
    sema.acquire()
    with pytest.raises(SemaphoreError, match="all semaphore buffer full"):
        sema.acquire()
    sema.release()
    sema.acquire()
    sema.release()
    sema.release()
    with pytest.raises(SemaphoreError, match="all semaphore buffer empty"):
        sema.release()


def test_admission_gate_sheds_overload():
    """Over-admission: 32 concurrent requests against a cap of 4 — the
    gate must keep observed concurrency <= 4 and answer the overflow
    with 429 instead of queueing (middleware.go:71-81 semantics)."""
    import threading

    from pulsar_beam_spark.streaming.admission import (
        HTTP_TOO_MANY_REQUESTS,
        Semaphore,
        admission_gate,
    )

    cap, n = 4, 32
    sema = Semaphore(cap)
    lock = threading.Lock()
    state = {"now": 0, "peak": 0}
    hold = threading.Event()

    def handler():
        with lock:
            state["now"] += 1
            state["peak"] = max(state["peak"], state["now"])
        hold.wait(0.2)  # keep the permit long enough for overlap
        with lock:
            state["now"] -= 1
        return 200, "ok"

    gated = admission_gate(sema, handler)
    results = []

    def request():
        results.append(gated()[0])

    threads = [threading.Thread(target=request) for _ in range(n)]
    for t in threads:
        t.start()
    time.sleep(0.1)
    hold.set()
    for t in threads:
        t.join()

    assert state["peak"] <= cap
    assert results.count(200) >= cap
    assert results.count(HTTP_TOO_MANY_REQUESTS) == n - results.count(200)
    assert sema.in_flight == 0


def test_per_trigger_admission_bounds_batches(spark, tmp_path):
    """The engine-side admission knob: with maxFilesPerTrigger=1 over a
    4-file backlog, every micro-batch admits exactly one file's rows —
    bounded in-flight work per trigger (G11 -> source backpressure)."""
    from pulsar_beam_spark.streaming.admission import bounded_batch_sizes

    d = str(tmp_path / "msgs-parts")
    spark.createDataFrame(_messages(40), MESSAGE_SCHEMA).repartition(4).write.parquet(d)
    stream = (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    sizes = bounded_batch_sizes(stream, str(tmp_path / "ckpt-admission"))
    assert sum(sizes) == 40
    assert len(sizes) == 4, f"one admitted file per trigger => 4 micro-batches, got {sizes}"
    assert max(sizes) < 40, "no trigger may admit the whole backlog"


# == S2: watermark late-data drop (explicit golden) ======================

def test_s2_late_rows_beyond_watermark_are_dropped(spark, tmp_path):
    """Golden S2 assertion: a row arriving in a later micro-batch with
    event_time older than the advanced watermark must NOT change an
    already-finalized window. Three ordered micro-batches: (0) on-time
    backlog advances the watermark past the first window; (1) a fresh
    row makes the engine finalize+emit that window; (2) a LATE row
    targeting the finalized window plus a fresh row. The first window
    must appear exactly once, with batch 0's count only — no merge, no
    duplicate re-emission.

    (Empirically pinned: a late row whose window state is still LIVE in
    the same batch that finalizes it IS merged by Spark — the drop
    guarantee applies once the watermark passed and state was evicted,
    which is exactly the contract this test locks in.)"""
    import os

    d = str(tmp_path / "late-src")
    os.makedirs(d)

    def rows(times_min):
        return [
            (
                f"m-{i}-{t}",
                "persistent://tenant0/ns/t",
                None,
                b"{}",
                T0 + timedelta(minutes=t),
                T0 + timedelta(minutes=t),
                None,
            )
            for i, t in enumerate(times_min)
        ]

    # batch 0: 2 rows in window [00:00,00:05), backlog to 00:27
    #   -> watermark after batch 0 = 00:17
    # batch 1: fresh 00:30 -> window [00:00,00:05) evicted+emitted (n=2)
    # batch 2: LATE 00:02 (far below watermark 00:20) + fresh 00:33
    base = time.time()
    for i, ts in enumerate([[0, 3, 6, 9, 12, 15, 18, 21, 24, 27], [30], [2, 33]]):
        before = set(os.listdir(d))
        spark.createDataFrame(rows(ts), MESSAGE_SCHEMA).coalesce(1).write.mode("append").parquet(d)
        for f in set(os.listdir(d)) - before:
            if f.endswith(".parquet"):
                # file source admits oldest-mtime first: pin batch order
                os.utime(os.path.join(d, f), (base + i * 60,) * 2)

    stream = (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    out = tumbling_counts(stream, width="5 minutes", watermark="10 minutes")
    got = _run_available_now(out, tmp_path, "s2_late_drop").collect()

    first = [r for r in got if r["window_start"] == T0]
    assert len(first) == 1, f"finalized window must be emitted exactly once, got {got}"
    assert first[0]["n"] == 2, (
        f"late row beyond watermark must be dropped (expected file A's 2 rows), got {first[0]}"
    )


# == stream-stream interval join (beyond-reference capability) ===========

def test_stream_stream_interval_join_matches_batch(spark, msg_dir, tmp_path):
    """Watermarked stream⋈stream interval join must produce exactly the
    batch join's rows (the reference can only correlate streams through
    an external webhook round-trip; Spark joins them natively with
    bounded state)."""
    from pulsar_beam_spark.streaming.joins import interval_join

    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    joined = interval_join(stream, stream, key="key", within="5 minutes")
    got = {
        (r["l_message_id"], r["r_message_id"])
        for r in _run_available_now(joined, tmp_path, "ss_join").collect()
    }

    batch = spark.read.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    expect = {
        (r["l_message_id"], r["r_message_id"])
        for r in interval_join(batch, batch, key="key", within="5 minutes").collect()
    }
    assert expect, "fixture must produce joined pairs"
    assert got == expect


def test_bounded_poll_globally_earliest_across_micro_batches(spark, tmp_path):
    """When AvailableNow splits the backlog into several micro-batches
    (maxFilesPerTrigger=1 over 4 files), the poll must still return the
    GLOBALLY earliest batch_size messages — each batch contributes its
    own earliest rows and the union re-sorts before truncation."""
    d = str(tmp_path / "poll-multi")
    # 4 files, event times interleaved across files: file i holds
    # minutes i, i+4, i+8, ... so no single file contains the global head
    all_rows = _messages(40, dup_every=1000)
    for i in range(4):
        spark.createDataFrame(all_rows[i::4], MESSAGE_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(d)
    out = bounded_poll(
        spark, d, batch_size=6,
        checkpoint_dir=str(tmp_path / "poll-multi-ckpt"),
        max_files_per_trigger=1,
    )
    assert out is not None and out["size"] == 6
    got = [m["message_id"] for m in out["messages"]]
    assert got == [f"m-{i}" for i in range(6)], got


def test_snapshot_merge_stream_multi_batch(spark, tmp_path):
    """Streaming snapshot maintenance invariant: after N micro-batches of
    changelog slices (forced with maxFilesPerTrigger=1, files written out
    of event-time order), the snapshot equals the one-shot latest-per-key
    materialization of the WHOLE log with tombstones dropped — late-
    arriving older rows never clobber, newer tombstones delete, stale
    upserts after a tombstone stay dead."""
    from pulsar_beam_spark.operators.dedup import exact_dedup_latest
    from pulsar_beam_spark.streaming.merge_sink import (
        read_snapshot,
        snapshot_merge_stream,
    )

    schema = "k long, v string, ts long, seq long, dead int"
    # three files -> three micro-batches; deliberately NOT in ts order
    batches = [
        [(1, "a2", 20, 1, 0), (2, "b1", 10, 2, 0), (3, "c1", 10, 3, 0)],
        [(1, "a1", 10, 4, 0), (3, None, 30, 5, 1), (4, "d1", 10, 6, 0)],  # stale a1; tombstone 3
        [(3, "c0", 20, 7, 0), (2, "b2", 30, 8, 0), (5, None, 5, 9, 1)],   # stale c0 after tombstone
    ]
    src = str(tmp_path / "log")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f{i}")
    # flatten into one dir of files
    import glob, shutil
    os.makedirs(f"{src}/all", exist_ok=True)
    for i in range(len(batches)):
        for j, f in enumerate(sorted(glob.glob(f"{src}/f{i}/*.parquet"))):
            shutil.copy(f, f"{src}/all/part-{i}-{j}.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/all")
    )
    q = snapshot_merge_stream(
        stream, str(tmp_path / "snap"), str(tmp_path / "ckpt-merge"),
        keys=["k"], order_col="ts", tiebreak="seq",
        tombstone=F.col("dead") == 1, payload_cols=["v"],
    )
    q.awaitTermination(120)

    got = {
        r["k"]: (r["v"], r["ts"])
        for r in read_snapshot(spark, str(tmp_path / "snap")).collect()
    }
    full = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    want = {
        r["k"]: (r["v"], r["ts"])
        for r in exact_dedup_latest(full, ["k"], "ts", "seq")
        .filter(F.col("dead") == 0)
        .collect()
    }
    assert got == want
    assert got == {1: ("a2", 20), 2: ("b2", 30), 4: ("d1", 10)}


def test_snapshot_merge_retention_gc_and_concurrent_read(spark, tmp_path):
    """VERDICT r06 #4: keep-N retention bounds the v-dir count on a
    long-running maintenance stream, and delete-AFTER-flip ordering keeps
    a reader that resolved the pointer before a flip safe for at least
    one subsequent epoch (the keep_versions - 1 read window)."""
    from pulsar_beam_spark.streaming.merge_sink import (
        read_snapshot,
        snapshot_merge_stream,
    )

    schema = "k long, v string, ts long, seq long, dead int"
    src = str(tmp_path / "gc-log")
    os.makedirs(src, exist_ok=True)
    import glob, shutil
    def append_file(i):
        d = str(tmp_path / f"gc-stage-{i}")
        spark.createDataFrame([(i, f"x{i}", i, i, 0)], schema).coalesce(1).write.parquet(d)
        for j, f in enumerate(sorted(glob.glob(f"{d}/*.parquet"))):
            shutil.copy(f, f"{src}/part-{i:03d}-{j}.parquet")

    for i in range(6):
        append_file(i)
    snap = str(tmp_path / "gc-snap")
    ckpt = str(tmp_path / "gc-ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = snapshot_merge_stream(
            stream, snap, ckpt, keys=["k"], order_col="ts", tiebreak="seq",
            tombstone=F.col("dead") == 1, payload_cols=["v"],
            keep_versions=2,
        )
        q.awaitTermination(120)

    run_once()  # 6 single-file micro-batches -> 6 epochs
    vdirs = [n for n in os.listdir(snap) if n.startswith("v")]
    assert len(vdirs) <= 2, vdirs  # bounded, not one per epoch
    got = {r["k"]: r["v"] for r in read_snapshot(spark, snap).collect()}
    assert got == {i: f"x{i}" for i in range(6)}  # GC never ate state

    # concurrent read across a flip: resolve the pointer NOW, flip one
    # more epoch (which GCs the version before the one we hold), then
    # materialize — the held version must still exist with its content
    reader_df = read_snapshot(spark, snap)
    append_file(6)
    run_once()  # one more epoch: flips to v6's successor, GC keeps 2
    assert {r["k"] for r in read_snapshot(spark, snap).collect()} == set(range(7))
    held = {r["k"]: r["v"] for r in reader_df.collect()}
    assert held == {i: f"x{i}" for i in range(6)}  # pre-flip view intact


def test_snapshot_merge_crash_after_flip_replay_is_noop(spark, tmp_path):
    """Crash-recovery hole probed directly: a crash AFTER the pointer
    flip but BEFORE the stream checkpoint commits makes foreachBatch
    replay an epoch whose v-dir is already current. Re-merging would read
    the base snapshot from the very directory the overwrite deletes
    (Spark leaves read-while-overwrite of one path undefined), so the
    replay must be a committed-epoch no-op: pointer untouched, v-dir
    files untouched, content intact. Simulated zero-mock by deleting the
    final stream-checkpoint commit marker and restarting."""
    import glob
    import shutil

    from pulsar_beam_spark.streaming.merge_sink import (
        read_snapshot,
        snapshot_merge_stream,
    )

    schema = "k long, v string, ts long, seq long, dead int"
    src = str(tmp_path / "replay-log")
    os.makedirs(src, exist_ok=True)

    def append_file(i):
        d = str(tmp_path / f"replay-stage-{i}")
        spark.createDataFrame([(i, f"x{i}", i, i, 0)], schema).coalesce(1).write.parquet(d)
        for j, f in enumerate(sorted(glob.glob(f"{d}/*.parquet"))):
            shutil.copy(f, f"{src}/part-{i:03d}-{j}.parquet")

    append_file(0)
    append_file(1)
    snap = str(tmp_path / "replay-snap")
    ckpt = str(tmp_path / "replay-ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = snapshot_merge_stream(
            stream, snap, ckpt, keys=["k"], order_col="ts", tiebreak="seq",
            tombstone=F.col("dead") == 1, payload_cols=["v"],
        )
        q.awaitTermination(120)

    run_once()  # epochs 0 and 1 committed; pointer at v1
    with open(os.path.join(snap, "LATEST")) as f:
        assert f.read().strip() == "v1"
    files_before = sorted(os.listdir(os.path.join(snap, "v1")))

    # crash window: epoch 1's write+flip completed but its stream commit
    # didn't — drop the commit marker so restart replays epoch 1
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")  # hadoop checksum sidecar
    if os.path.exists(crc):
        os.remove(crc)
    run_once()

    with open(os.path.join(snap, "LATEST")) as f:
        assert f.read().strip() == "v1"
    # replay skipped: same physical files, not a rewrite of equal content
    assert sorted(os.listdir(os.path.join(snap, "v1"))) == files_before
    got = {r["k"]: r["v"] for r in read_snapshot(spark, snap).collect()}
    assert got == {0: "x0", 1: "x1"}

    # and the stream still makes forward progress afterwards
    append_file(2)
    run_once()
    got = {r["k"]: r["v"] for r in read_snapshot(spark, snap).collect()}
    assert got == {0: "x0", 1: "x1", 2: "x2"}


def test_multiplexed_no_matching_config_appends_nothing(spark, tmp_path):
    """Mux small-files gate: a micro-batch whose messages all miss the
    config snapshot (no activated webhook on those topics) must not POST
    anything NOR append an empty reply part file — the routed-frame gate,
    the join-side analogue of the source-side empty-epoch gate."""
    from pulsar_beam_spark.model.config_store import ConfigStore
    from pulsar_beam_spark.streaming.reconciler import desired_deliveries

    store = ConfigStore(spark, str(tmp_path / "cfg-miss"))
    store.update("persistent://other/ns/unrelated", "pulsar://c:6650",
                 [Webhook("http://h0.example.com/cb", "s0")])
    configs = desired_deliveries(store.snapshot())

    src = str(tmp_path / "miss-src")
    spark.createDataFrame(_messages(n=6), MESSAGE_SCHEMA).coalesce(1).write.parquet(src)

    t = _Transport([(200, {"TopicFn": "persistent://t/ns/reply"}, b"pong")],
                   spool=tmp_path / "spool-miss")
    reply_dir = str(tmp_path / "reply-miss")
    q = deliver_multiplexed_stream(
        spark.readStream.schema(MESSAGE_SCHEMA).parquet(src),
        configs, str(tmp_path / "ckpt-miss"),
        sink_factory=lambda cfg: WebhookSink(cfg["url"], transport=t),
        reply_table_dir=reply_dir,
    )
    q.processAllAvailable()
    q.stop()

    assert not t.calls
    part_files = (
        [] if not os.path.exists(reply_dir)
        else [f for f in os.listdir(reply_dir) if f.endswith(".parquet")]
    )
    assert part_files == []


def test_delivery_arrow_path_null_fields(spark, tmp_path):
    """The Arrow-batched delivery path (mapInPandas) must preserve the
    per-row semantics of the old pickle path for null payload / key /
    properties: empty body posted, no crash on missing properties."""
    from datetime import datetime

    from pulsar_beam_spark.model.message import MESSAGE_SCHEMA
    t0 = datetime(2024, 1, 1)
    rows = [
        ("m-null", "persistent://t/ns/a", None, None, t0, t0, None),
        ("m-empty", "persistent://t/ns/a", None, b"", t0, t0, {}),
        ("m-props", "persistent://t/ns/a", "k1", b'{"v":1}', t0, t0, {"X-Tag": "z"}),
    ]
    src = str(tmp_path / "src-null")
    spark.createDataFrame(rows, MESSAGE_SCHEMA).write.parquet(src)
    spool = tmp_path / "spool-null"
    t = _Transport([(200, {}, b"")], spool=spool)
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(src)
    sink = WebhookSink("http://stub", transport=t)
    q = deliver_multiplexed_stream(stream, topic_routes(spark, ["persistent://t/ns/a"], sink.url),
                                   str(tmp_path / "ckpt-null"), sink_factory=lambda cfg: sink)
    q.processAllAvailable()
    q.stop()
    by_id = {h["PulsarMessageId"]: (body, h) for _, body, h in t.calls}
    assert set(by_id) == {"m-null", "m-empty", "m-props"}
    assert by_id["m-null"][0] == b"" and by_id["m-empty"][0] == b""
    body, hdrs = by_id["m-props"]
    assert body == b'{"v":1}'
    assert hdrs["Content-Type"] == "application/json"
    assert hdrs["X-Tag"] == "z"


def test_sketch_merge_stream_matches_single_pass(spark, tmp_path):
    """Incremental HLL maintenance across micro-batches equals the
    single-pass batch sketch EXACTLY (union associativity), and sits
    within tolerance of the exact distinct count."""
    import pyspark.sql.functions as F

    from pulsar_beam_spark.streaming.merge_sink import (
        read_sketch_snapshot,
        sketch_merge_stream,
    )

    src = str(tmp_path / "sketch-src")
    rows = [(f"u{i % 97}", ["click", "view", "buy"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "user_id string, event_type string")
    # 4 files -> maxFilesPerTrigger=1 forces multiple micro-batches
    df.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("user_id string, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    snap = str(tmp_path / "sketch-snap")
    q = sketch_merge_stream(
        stream, snap, str(tmp_path / "sketch-ckpt"), ["event_type"], "user_id"
    )
    q.awaitTermination(120)

    got = {
        r["event_type"]: r["approx_distinct"]
        for r in read_sketch_snapshot(spark, snap).collect()
    }
    single = {
        r["event_type"]: r["e"]
        for r in df.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).cast("long").alias("e"))
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in df.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert got == single, (got, single)
    for k, v in got.items():
        assert abs(v - exact[k]) <= max(3.0, 0.125 * exact[k])
    # retention: 4 epochs with default keep_versions=3 -> at most 3 v-dirs
    assert len([n for n in os.listdir(snap) if n.startswith("v")]) <= 3


def test_stream_stream_left_outer_interval_join_matches_batch(spark, tmp_path):
    """S-depth: LEFT OUTER stream-stream interval join — unmatched left
    rows surface with nulls once the watermark closes their window; the
    drained output equals the identical batch left join."""
    from datetime import datetime, timedelta

    from pulsar_beam_spark.streaming.joins import interval_join_left_outer

    t0 = datetime(2024, 1, 1)
    lrows = [(k, f"L{i}", t0 + timedelta(minutes=i)) for k in (1, 2) for i in range(12)]
    # key 1 gets matches for even minutes only; key 2 none at all
    rrows = [(1, f"R{i}", t0 + timedelta(minutes=i, seconds=30)) for i in range(0, 12, 2)]
    schema_l = "key int, lid string, event_time timestamp"
    schema_r = "key int, rid string, event_time timestamp"
    ldir, rdir = str(tmp_path / "lsrc"), str(tmp_path / "rsrc")
    ldf = spark.createDataFrame(lrows, schema_l)
    rdf = spark.createDataFrame(rrows, schema_r)
    ldf.write.parquet(ldir)
    rdf.write.parquet(rdir)

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    joined = interval_join_left_outer(
        spark.readStream.schema(schema_l).parquet(ldir),
        spark.readStream.schema(schema_r).parquet(rdir),
        within="1 minutes", watermark="2 minutes",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    # Structured Streaming emits an outer-null row only once the
    # watermark PROVES the window closed; rows at the tail of a drained
    # stream stay open forever. Advance both watermarks with a sentinel
    # batch (filtered out of the assertion) so every real outer row
    # flushes — exactly what a live stream's ongoing traffic does.
    sent = t0 + timedelta(hours=2)
    spark.createDataFrame([(99, "SL", sent)], schema_l).write.mode("append").parquet(ldir)
    spark.createDataFrame([(99, "SR", sent)], schema_r).write.mode("append").parquet(rdir)
    q.processAllAvailable()
    q.stop()

    got = sorted(
        (r["l_key"], r["l_lid"], r["r_rid"])
        for r in spark.read.parquet(out_dir).collect()
        if r["l_key"] != 99
    )
    want = sorted(
        (r["l_key"], r["l_lid"], r["r_rid"])
        for r in interval_join_left_outer(ldf, rdf, within="1 minutes").collect()
    )
    assert got == want
    assert any(rid is None for _, _, rid in got)  # outer nulls actually exercised


def test_delivery_reply_write_partitions_compacts_files(spark, msg_dir, tmp_path):
    """reply_write_partitions=1: delivery still fans out, but each epoch
    appends exactly one reply part file (small-files knob)."""
    import glob

    t = _Transport(
        [(200, {"TopicFn": "persistent://t/ns/reply"}, b"pong")] * 1000,
        spool=tmp_path / "spool-compact",
    )
    reply_dir = str(tmp_path / "reply-compact")
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(msg_dir)
    sink = WebhookSink("http://stub", transport=t)
    q = deliver_multiplexed_stream(
        stream, topic_routes(spark, TOPICS, sink.url),
        str(tmp_path / "ckpt-compact"), sink_factory=lambda cfg: sink,
        reply_table_dir=reply_dir, reply_write_partitions=1,
        query_name="compact-delivery",
    )
    q.processAllAvailable()
    q.stop()
    parts = glob.glob(f"{reply_dir}/part-*.parquet")
    assert len(parts) == 1, parts  # one epoch -> one writer file
    replies = spark.read.schema(MESSAGE_SCHEMA).parquet(reply_dir).collect()
    assert len(replies) == len(t.calls) > 0


def test_vector_index_stream_matches_batch_and_replays_idempotently(spark, tmp_path):
    """S-custom: streaming maintenance of the PQ-codes / IVF-cells
    ingest artifacts (streaming/vector_index.py). Vectors arrive across
    >=2 micro-batches; the unioned per-epoch appends must BIT-EQUAL the
    one-shot batch encode (row-local encode under fixed trained
    codebooks/centroids), and a replayed committed epoch (crash between
    artifact write and stream commit — the standing foreachBatch replay
    discipline) must rewrite identical bytes, never duplicate rows."""
    from pulsar_beam_spark.operators.clustering import (
        kmeans_fit, pq_train_fixedpoint)
    from pulsar_beam_spark.streaming.vector_index import (
        encode_batch, read_artifact, vector_index_sink)

    sf_smoke = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    books = pq_train_fixedpoint(emb)
    _, cents = kmeans_fit(emb, k=16)

    src = str(tmp_path / "vecs")
    art = str(tmp_path / "vec-art")
    ckpt = str(tmp_path / "vec-ckpt")
    emb.filter("vec_id % 2 = 0").coalesce(1).write.parquet(src)
    emb.filter("vec_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    def run_sink():
        stream = (spark.readStream.schema(emb.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = vector_index_sink(stream, books, cents, art, ckpt)
        q.awaitTermination(120)
        q.stop()

    run_sink()

    m = len(books)
    code_cols = ["vec_id"] + [f"_code{i}" for i in range(m)]
    want = encode_batch(emb, books, cents)
    want_codes = sorted(tuple(r) for r in want.select(*code_cols).collect())
    want_cells = sorted(tuple(r) for r in want.select("vec_id", "cell").collect())

    got_codes = sorted(tuple(r) for r in
                       read_artifact(spark, art, "codes").select(*code_cols).collect())
    got_cells = sorted(tuple(r) for r in
                       read_artifact(spark, art, "cells").select("vec_id", "cell").collect())
    assert got_codes == want_codes and len(got_codes) > 0
    assert got_cells == want_cells
    epochs = [d for d in os.listdir(os.path.join(art, "codes"))
              if d.startswith("epoch=")]
    assert len(epochs) >= 2, "maxFilesPerTrigger=1 must yield >=2 epochs"

    # replay: drop the LAST epoch's commit marker (and its hadoop crc
    # sidecar) so a restart re-delivers that epoch to foreachBatch
    commits = sorted(int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
                     if f.isdigit())
    last = commits[-1]
    os.remove(os.path.join(ckpt, "commits", str(last)))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_sink()

    replayed_codes = sorted(tuple(r) for r in
                            read_artifact(spark, art, "codes").select(*code_cols).collect())
    replayed_cells = sorted(tuple(r) for r in
                            read_artifact(spark, art, "cells").select("vec_id", "cell").collect())
    assert replayed_codes == want_codes, "epoch replay must not duplicate codes"
    assert replayed_cells == want_cells, "epoch replay must not duplicate cells"


def test_bm25_index_stream_matches_rebuild_and_replays_idempotently(spark, tmp_path):
    """VERDICT r12 task 5 — streaming BM25 maintenance. Documents
    arrive across >=2 micro-batches; the sink writes per-epoch PARTIALS
    (postings rows, partial dfreq, partial (n, tot)) and the read-side
    view re-aggregates the integer partials — so the served index must
    BIT-EQUAL a one-shot bm25_build_index over the union corpus (the
    globally-coupled dictionary/stats are the interesting part: the
    merge operator's math, applied per epoch). A replayed committed
    epoch must rewrite identical partials; compaction must fold epoch
    dirs without changing the served view."""
    from pulsar_beam_spark.operators.text import (
        bm25_build_index, bm25_topk, bm25_topk_indexed)
    from pulsar_beam_spark.streaming.text_index import (
        bm25_index_sink, bm25_read_index)
    from pulsar_beam_spark.streaming.vector_index import (
        compact_artifact, live_artifact_dirs)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(60))
    src = str(tmp_path / "docs")
    art = str(tmp_path / "bm25-art")
    ckpt = str(tmp_path / "bm25-ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(src)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    def run_sink():
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = bm25_index_sink(stream, art, ckpt)
        q.awaitTermination(120)
        q.stop()

    run_sink()

    wp, wd, ws = bm25_build_index(docs)
    want_postings = sorted(tuple(r) for r in wp.collect())
    want_dict = sorted(tuple(r) for r in wd.collect())
    want_stats = [tuple(r) for r in ws.collect()]
    terms = ["data", "scan"]
    want_topk = [tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]

    def served():
        p, d, s = bm25_read_index(spark, art)
        return (sorted(tuple(r) for r in p.collect()),
                sorted(tuple(r) for r in d.collect()),
                [tuple(r) for r in s.collect()],
                [tuple(r) for r in bm25_topk_indexed(
                    p, d, s, terms, k=10).collect()])

    got = served()
    assert got == (want_postings, want_dict, want_stats, want_topk)
    assert len(want_postings) > 0 and len(want_topk) > 0
    epochs = [x for x in os.listdir(os.path.join(art, "postings"))
              if x.startswith("epoch=")]
    assert len(epochs) >= 2, "maxFilesPerTrigger=1 must yield >=2 epochs"

    # replay the last committed epoch (crash between artifact write and
    # stream commit): identical partials, never double-counted dfreq/n
    commits = sorted(int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
                     if f.isdigit())
    last = commits[-1]
    os.remove(os.path.join(ckpt, "commits", str(last)))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_sink()
    assert served() == (want_postings, want_dict, want_stats, want_topk), (
        "epoch replay must not change the served index")

    # compaction folds the epoch partials losslessly (integer partial
    # rows union; the read-side aggregation is grouping-indifferent)
    for which in ("postings", "dictionary", "stats"):
        compact_artifact(spark, art, which, keep_latest=0, min_dirs=2)
        assert len(live_artifact_dirs(art, which)) == 1
    assert served() == (want_postings, want_dict, want_stats, want_topk), (
        "compaction must not change the served index")


def test_ivfpq_index_stream_matches_batch_and_replays_idempotently(spark, tmp_path):
    """VERDICT r11 item 2: streaming maintenance of the composite
    index's per-cell residual PQ codes. Same contract family as the
    flat codes/cells golden above — stream == one-shot batch encode
    bit-for-bit, replayed committed epoch rewrites identical rows —
    plus the feed-forward check: the streamed artifact serves
    ivfpq_adc_scan with exactly the rows the batch-built artifact
    serves (the e_ivfpq_codes_topk query path)."""
    from pulsar_beam_spark.operators.clustering import (
        ivfpq_adc_scan, ivfpq_encode, ivfpq_residual_books, kmeans_fit,
        quantized_frame)
    from pulsar_beam_spark.streaming.vector_index import (
        ivfpq_index_sink, read_artifact)

    sf_smoke = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    q, cents = kmeans_fit(emb, k=16)
    books = ivfpq_residual_books(q, cents)
    m = len(books)

    src = str(tmp_path / "vecs")
    art = str(tmp_path / "ivfpq-art")
    ckpt = str(tmp_path / "ivfpq-ckpt")
    emb.filter("vec_id % 2 = 0").coalesce(1).write.parquet(src)
    emb.filter("vec_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    def run_sink():
        stream = (spark.readStream.schema(emb.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        sq = ivfpq_index_sink(stream, cents, books, art, ckpt)
        sq.awaitTermination(120)
        sq.stop()

    run_sink()

    cols = ["vec_id", "cell"] + [f"_code{i}" for i in range(m)]
    want = sorted(tuple(r) for r in
                  ivfpq_encode(emb, cents, books).select(*cols).collect())
    got = sorted(tuple(r) for r in
                 read_artifact(spark, art, "ivfpq_codes").select(*cols).collect())
    assert got == want and len(got) > 0
    epochs = [d for d in os.listdir(os.path.join(art, "ivfpq_codes"))
              if d.startswith("epoch=")]
    assert len(epochs) >= 2, "maxFilesPerTrigger=1 must yield >=2 epochs"

    # replay: drop the LAST epoch's commit marker (and crc sidecar)
    commits = sorted(int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
                     if f.isdigit())
    last = commits[-1]
    os.remove(os.path.join(ckpt, "commits", str(last)))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_sink()

    replayed = sorted(tuple(r) for r in
                      read_artifact(spark, art, "ivfpq_codes").select(*cols).collect())
    assert replayed == want, "epoch replay must not duplicate residual codes"

    # feed-forward: the streamed artifact answers the query path
    # identically to a batch-built codes frame
    qrow = quantized_frame(emb).filter(F.col("_kid") == 0).head()
    qv = [int(x) for x in qrow["qv"]]
    from_stream = [tuple(r) for r in ivfpq_adc_scan(
        read_artifact(spark, art, "ivfpq_codes"), cents, books, qv).collect()]
    from_batch = [tuple(r) for r in ivfpq_adc_scan(
        ivfpq_encode(emb, cents, books), cents, books, qv).collect()]
    assert from_stream == from_batch and len(from_stream) > 0


def test_artifact_compaction_bounds_dirs_and_survives_crashes(spark, tmp_path):
    """Round-12: compact_artifact folds settled epoch partitions into
    one consolidated dir (the file-count bound for the per-micro-batch
    sink layout), with the store's crash-safe ordering at directory
    granularity. Pins: content preserved bit-for-bit; the protected
    latest epoch stays replayable; every injected crash window leaves
    readers duplicate-free and converges on the next compact; chains
    (re-folding a previous output) resolve transitively."""
    from pulsar_beam_spark.operators.clustering import (
        ivfpq_encode, ivfpq_residual_books, kmeans_fit)
    from pulsar_beam_spark.streaming.vector_index import (
        compact_artifact, ivfpq_write_epoch, live_artifact_dirs,
        read_artifact)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q, cents = kmeans_fit(emb, k=16)
    books = ivfpq_residual_books(q, cents)
    m = len(books)
    cols = ["vec_id", "cell"] + [f"_code{i}" for i in range(m)]
    art = str(tmp_path / "art")

    pool = (emb.orderBy("vec_id").limit(40)
            .select("vec_id", F.col("embedding").cast("array<double>"))
            .collect())
    rows = [(int(r[0]), [float(x) for x in r[1]]) for r in pool]

    def frame(lo, hi):
        return spark.createDataFrame(rows[lo:hi],
                                     "vec_id long, embedding array<double>")

    def want(hi):
        return sorted(tuple(r) for r in
                      ivfpq_encode(frame(0, hi), cents, books)
                      .select(*cols).collect())

    def got():
        return sorted(tuple(r) for r in
                      read_artifact(spark, art, "ivfpq_codes")
                      .select(*cols).collect())

    # 5 epochs of 8
    for e in range(5):
        ivfpq_write_epoch(frame(e * 8, e * 8 + 8), cents, books, art, e)
    assert got() == want(40)

    # full compact: 4 settled epochs fold, epoch=4 stays replayable
    r = compact_artifact(spark, art, "ivfpq_codes")
    assert r["merged"] == 4 and r["output"]
    dirs = live_artifact_dirs(art, "ivfpq_codes")
    assert len(dirs) == 2 and "epoch=4" in dirs, dirs
    assert got() == want(40)

    # replay of the protected epoch after compaction: idempotent
    ivfpq_write_epoch(frame(32, 40), cents, books, art, 4)
    assert got() == want(40)

    # crash window 1: manifest written, no output — readers unaffected,
    # next compact gc's the dangling entry and completes (a CHAIN fold:
    # candidates now include the previous compact output)
    ivfpq_write_epoch(frame(0, 0).where(F.lit(False)), cents, books, art, 5)
    r = compact_artifact(spark, art, "ivfpq_codes",
                         _fail_point="after_manifest")
    assert r.get("crashed") == "after_manifest"
    assert got() == want(40)
    r = compact_artifact(spark, art, "ivfpq_codes")
    assert r["merged"] >= 2
    assert got() == want(40)

    # crash window 2: output renamed, sources not deleted — the output
    # supersedes them (no double-count), repair finishes the deletes
    # new epochs from here may duplicate earlier ids — irrelevant to the
    # compaction contract, which preserves row multisets; the assertions
    # below compare content before/after repair, not against want()
    ivfpq_write_epoch(frame(0, 8), cents, books, art, 6)
    r = compact_artifact(spark, art, "ivfpq_codes",
                         _fail_point="after_rename")
    assert r.get("crashed") == "after_rename"
    got_now = got()
    r2 = compact_artifact(spark, art, "ivfpq_codes")
    assert r2["repaired"] >= 1
    assert got() == got_now

    # crash window 3: mid-delete — half the sources linger; still no
    # double-count, repair converges
    ivfpq_write_epoch(frame(8, 16), cents, books, art, 7)
    ivfpq_write_epoch(frame(16, 24), cents, books, art, 8)
    r = compact_artifact(spark, art, "ivfpq_codes",
                         _fail_point="mid_delete")
    assert r.get("crashed") == "mid_delete"
    got_now = got()
    r2 = compact_artifact(spark, art, "ivfpq_codes")
    assert r2["repaired"] >= 1
    assert got() == got_now


def test_sink_with_compaction_cadence_bounds_dirs(spark, tmp_path):
    """compact_every wires the directory-count bound into the sink
    itself: a 4-epoch stream with compact_every=2 must finish with a
    bounded live-dir set, content bit-equal to the one-shot batch
    encode, and the post-compaction replay window intact."""
    from pulsar_beam_spark.operators.clustering import (
        ivfpq_encode, ivfpq_residual_books, kmeans_fit)
    from pulsar_beam_spark.streaming.vector_index import (
        ivfpq_index_sink, live_artifact_dirs, read_artifact)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q, cents = kmeans_fit(emb, k=16)
    books = ivfpq_residual_books(q, cents)
    m = len(books)
    cols = ["vec_id", "cell"] + [f"_code{i}" for i in range(m)]

    src = str(tmp_path / "vecs")
    art = str(tmp_path / "art")
    ckpt = str(tmp_path / "ckpt")
    for i in range(4):
        emb.filter(f"vec_id % 4 = {i}").coalesce(1).write.mode(
            "append").parquet(src)

    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    sq = ivfpq_index_sink(stream, cents, books, art, ckpt, compact_every=2)
    sq.awaitTermination(180)
    sq.stop()

    dirs = live_artifact_dirs(art, "ivfpq_codes")
    assert len(dirs) <= 3, dirs  # 4 epochs folded down, not 4+ dirs
    got = sorted(tuple(r) for r in
                 read_artifact(spark, art, "ivfpq_codes").select(*cols).collect())
    want = sorted(tuple(r) for r in
                  ivfpq_encode(emb, cents, books).select(*cols).collect())
    assert got == want and len(got) > 0

    # replay the final epoch (commit marker dropped) across the
    # compacted layout: still idempotent
    commits = sorted(int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
                     if f.isdigit())
    last = commits[-1]
    os.remove(os.path.join(ckpt, "commits", str(last)))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    sq = ivfpq_index_sink(stream, cents, books, art, ckpt, compact_every=2)
    sq.awaitTermination(180)
    sq.stop()
    replayed = sorted(tuple(r) for r in
                      read_artifact(spark, art, "ivfpq_codes").select(*cols).collect())
    assert replayed == want


def test_streamed_hybrid_rrf_with_midstream_compaction(spark, tmp_path):
    """VERDICT r13 task 4 — the RAG read path over LIVE streamed
    artifacts: BOTH index families (BM25 postings/dictionary/stats and
    the flat codes/cells vector artifacts) are maintained by streams
    over the same corpus, a compaction lands in the MIDDLE of each
    stream's life (between the first and second ingest phases, folding
    the settled epochs), the streams then resume from their
    checkpoints, and the fused RRF query reads the live artifacts —
    the fused ranking must BIT-EQUAL the fusion over one-shot
    batch-built indexes of the union corpus. This composes the two
    per-family goldens: each index alone being stream==batch does not
    prove the COMPOSED read stays exact across an interleaved
    compact-then-resume history."""
    from pulsar_beam_spark.operators.clustering import (
        ivf_cells_scan_topk, ivf_probe_cells, kmeans_fit,
        pq_train_fixedpoint, quantized_frame)
    from pulsar_beam_spark.operators.text import (
        bm25_build_index, bm25_topk_indexed)
    from pulsar_beam_spark.queries import _query_vec, _rrf_fuse, _IVFT_NPROBE
    from pulsar_beam_spark.streaming.text_index import (
        bm25_index_sink, bm25_read_index)
    from pulsar_beam_spark.streaming.vector_index import (
        compact_artifact, live_artifact_dirs, read_artifact,
        vector_index_sink)

    sf = "/root/testdata/sf0.001"
    docs = (spark.read.parquet(f"{sf}/documents.parquet")
            .select("doc_id", "text").limit(60))
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    # trained tables are FROZEN inputs to maintenance (retraining is a
    # batch event that versions the artifact dir, never a stream effect)
    books = pq_train_fixedpoint(emb)
    _, cents = kmeans_fit(emb, k=16)

    d_src, v_src = str(tmp_path / "docs"), str(tmp_path / "vecs")
    d_art, v_art = str(tmp_path / "bm25-art"), str(tmp_path / "vec-art")
    d_ck, v_ck = str(tmp_path / "bm25-ck"), str(tmp_path / "vec-ck")

    def write_phase(mod_keep):
        for m in mod_keep:
            docs.filter(f"doc_id % 4 = {m}").coalesce(1) \
                .write.mode("append").parquet(d_src)
            emb.filter(f"vec_id % 4 = {m}").coalesce(1) \
                .write.mode("append").parquet(v_src)

    def run_sinks():
        qd = bm25_index_sink(
            (spark.readStream.schema(docs.schema)
             .option("maxFilesPerTrigger", "1").parquet(d_src)),
            d_art, d_ck)
        qd.awaitTermination(120); qd.stop()
        qv = vector_index_sink(
            (spark.readStream.schema(emb.schema)
             .option("maxFilesPerTrigger", "1").parquet(v_src)),
            books, cents, v_art, v_ck)
        qv.awaitTermination(120); qv.stop()

    # phase 1: two files each -> two epochs per stream
    write_phase([0, 1])
    run_sinks()
    # MIDSTREAM compaction: fold the settled epochs of every artifact
    # (keep_latest=1 protects each stream's replayable window)
    for which in ("postings", "dictionary", "stats"):
        compact_artifact(spark, d_art, which, keep_latest=1, min_dirs=2)
    for which in ("codes", "cells"):
        compact_artifact(spark, v_art, which, keep_latest=1, min_dirs=2)
    n_live_mid = len(live_artifact_dirs(v_art, "cells"))
    # phase 2: the streams RESUME from their checkpoints over new files
    write_phase([2, 3])
    run_sinks()

    def fused(sparse_parts, dense_cells):
        p, d, s = sparse_parts
        sparse = bm25_topk_indexed(p, d, s, ["data", "scan"], k=20)
        qv = _query_vec(emb, 0)
        qrow = (quantized_frame(emb).filter("_kid = 0").select("qv").head())
        probe = ivf_probe_cells([int(x) for x in qrow["qv"]], cents,
                                _IVFT_NPROBE)
        dense = ivf_cells_scan_topk(dense_cells, emb, qv, probe, k=20)
        return [tuple(r) for r in _rrf_fuse(sparse, dense, k=10, c=60)
                .collect()]

    got = fused(bm25_read_index(spark, d_art),
                read_artifact(spark, v_art, "cells"))
    from pulsar_beam_spark.streaming.vector_index import encode_batch

    want = fused(bm25_build_index(docs),
                 encode_batch(emb, books, cents).select("vec_id", "cell"))
    assert got == want and len(got) == 10, (got, want)
    # non-vacuous interleaving: the mid-stream compaction actually
    # folded phase-1 epochs, and phase 2 appended fresh ones after it
    assert n_live_mid == 2, "phase-1 fold must leave consolidated+protected"
    assert len(live_artifact_dirs(v_art, "cells")) > n_live_mid, (
        "phase-2 epochs must land after the mid-stream compaction")
