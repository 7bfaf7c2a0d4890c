"""Real-process crash chaos for the streaming sinks (VERDICT r08 item 2).

Each scenario runs tests/crash_worker.py in its own process group (own
Python driver, own Spark JVM) and SIGKILLs the whole group at a named
kill-point — the earlier crash tests simulated crashes by deleting
commit markers; these are kernel kills of a live JVM mid-batch. The
parent then restarts the same pipeline from the surviving on-disk state
(checkpoint, snapshot dirs, cursors) in ITS session and asserts the
contracts:

- snapshot merge sink: crash before the pointer flip -> replay
  re-merges, snapshot converges; crash after the flip -> replay is a
  no-op (no read-while-overwrite), snapshot already correct.
- webhook fan-out: crash mid-POST-loop -> the epoch redelivers in full;
  no loss, duplicates only for the rows POSTed before the kill
  (at-least-once, webhook.go:153-241's contract).
- bounded poll: crash before the cursor write -> the batch redelivers;
  crash after -> the batch is acked and the next poll continues past it
  (the reference acks per delivered message, sse-broker.go:48-57).
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from pulsar_beam_spark.model.message import MESSAGE_SCHEMA

from .conftest import topic_routes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER = os.path.join(REPO, "tests", "crash_worker.py")
T0 = datetime(2024, 1, 1)


def _run_worker(scenario: str, workdir: str, kill_on_marker: bool = False,
                timeout_s: float = 180.0) -> int:
    """Launch the worker in its own session/process group; return its
    exit code. ``kill_on_marker``: the scenario blocks at the kill-point
    and asks the PARENT to deliver the SIGKILL (an external kill of a
    busy process, vs the self-kill scenarios)."""
    env = dict(os.environ, PYTHONPATH=REPO)
    with open(os.path.join(workdir, "worker.log"), "wb") as logf:
        proc = subprocess.Popen(
            [sys.executable, WORKER, scenario, workdir],
            cwd=REPO, env=env, stdout=logf, stderr=logf,
            start_new_session=True,
        )
        deadline = time.time() + timeout_s
        marker = os.path.join(workdir, "KILLPOINT")
        while time.time() < deadline:
            if proc.poll() is not None:
                return proc.returncode
            if kill_on_marker and os.path.exists(marker):
                # let the in-flight write settle for a beat, then kill
                # the whole group (driver + JVM + python workers)
                time.sleep(0.2)
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait(30)
        raise AssertionError(f"worker {scenario} timed out; see worker.log")


def _assert_killed(workdir: str, rc: int) -> None:
    assert os.path.exists(os.path.join(workdir, "KILLPOINT")), \
        "worker never reached the kill-point"
    assert not os.path.exists(os.path.join(workdir, "WORKER_FINISHED")), \
        "worker survived its kill-point"
    assert rc == -signal.SIGKILL, f"expected SIGKILL death, exit={rc}"


# == snapshot merge sink =================================================

MERGE_ROWS = [
    (1, "a2", 20, 1, 0), (2, "b1", 10, 2, 0), (3, "c1", 10, 3, 0),
    (1, "a1", 10, 4, 0), (3, None, 30, 5, 1), (4, "d1", 10, 6, 0),
]
MERGE_EXPECTED = {1: ("a2", 20), 2: ("b1", 10), 4: ("d1", 10)}  # 3 tombstoned


def _merge_setup(spark, tmp_path) -> str:
    workdir = str(tmp_path / "wd")
    os.makedirs(workdir)
    spark.createDataFrame(MERGE_ROWS, "k long, v string, ts long, seq long, dead int") \
        .coalesce(1).write.parquet(os.path.join(workdir, "log"))
    return workdir


def _merge_restart_and_read(spark, workdir: str):
    from pulsar_beam_spark.streaming.merge_sink import (
        read_snapshot,
        snapshot_merge_stream,
    )

    stream = spark.readStream.schema(
        "k long, v string, ts long, seq long, dead int"
    ).parquet(os.path.join(workdir, "log"))
    q = snapshot_merge_stream(
        stream, os.path.join(workdir, "snap"), os.path.join(workdir, "ckpt"),
        keys=["k"], order_col="ts", tiebreak="seq",
        tombstone=F.col("dead") == 1, payload_cols=["v"],
        query_name="chaos-merge-restart",
    )
    q.awaitTermination(120)
    snap = read_snapshot(spark, os.path.join(workdir, "snap"))
    return {r["k"]: (r["v"], r["ts"]) for r in snap.collect()}


def test_merge_sink_sigkill_before_pointer_flip(spark, tmp_path):
    workdir = _merge_setup(spark, tmp_path)
    rc = _run_worker("merge_before_flip", workdir)
    _assert_killed(workdir, rc)
    # the crash left the epoch's v-dir written but the pointer unflipped:
    # readers still see NO snapshot (previous consistent state)
    assert not os.path.exists(os.path.join(workdir, "snap", "LATEST"))
    assert _merge_restart_and_read(spark, workdir) == MERGE_EXPECTED


def test_merge_sink_sigkill_after_pointer_flip(spark, tmp_path):
    workdir = _merge_setup(spark, tmp_path)
    rc = _run_worker("merge_after_flip", workdir)
    _assert_killed(workdir, rc)
    # flip completed, stream checkpoint did not commit
    vdir = os.path.join(workdir, "snap", "v0")
    with open(os.path.join(workdir, "snap", "LATEST")) as f:
        assert f.read().strip() == "v0"
    before = {
        f: os.path.getmtime(os.path.join(vdir, f)) for f in os.listdir(vdir)
    }
    assert _merge_restart_and_read(spark, workdir) == MERGE_EXPECTED
    # the replayed epoch was a NO-OP (round-7 contract): the flipped
    # v-dir was not rewritten under a concurrent read
    after = {
        f: os.path.getmtime(os.path.join(vdir, f)) for f in os.listdir(vdir)
    }
    assert after == before, "replay of a flipped epoch must not rewrite the v-dir"


# == webhook fan-out =====================================================

def test_delivery_sigkill_mid_batch_redelivers_epoch(spark, tmp_path):
    from pulsar_beam_spark.streaming.delivery import (
        WebhookSink,
        deliver_multiplexed_stream,
    )

    workdir = str(tmp_path / "wd")
    os.makedirs(workdir)
    rows = [
        (f"m-{i:02d}", "persistent://t/ns/a", str(i), f"v{i}".encode(),
         T0 + timedelta(minutes=i), T0 + timedelta(minutes=i), {})
        for i in range(20)
    ]
    spark.createDataFrame(rows, MESSAGE_SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(workdir, "msgs"))

    rc = _run_worker("deliver_mid_batch", workdir, kill_on_marker=True)
    _assert_killed(workdir, rc)
    log = os.path.join(workdir, "delivered.txt")
    with open(log) as f:
        pre_crash = [ln.strip() for ln in f if ln.strip()]
    assert 0 < len(pre_crash) < 20, "must die MID-batch"

    # restart from the same checkpoint with a recording transport
    def transport(url, body, headers):
        fd = os.open(log, os.O_WRONLY | os.O_APPEND | os.O_CREAT)
        os.write(fd, (headers["PulsarMessageId"] + "\n").encode())
        os.close(fd)
        return 200, {}, b""

    sink = WebhookSink("http://chaos-stub", transport=transport)
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(
        os.path.join(workdir, "msgs"))
    q = deliver_multiplexed_stream(
        stream, topic_routes(spark, ["persistent://t/ns/a"], sink.url),
        os.path.join(workdir, "ckpt"), sink_factory=lambda cfg: sink,
        query_name="chaos-delivery-restart",
    )
    q.processAllAvailable()
    q.stop()

    with open(log) as f:
        delivered = [ln.strip() for ln in f if ln.strip()]
    all_ids = {r[0] for r in rows}
    assert set(delivered) == all_ids, "no loss across the crash"
    # the killed epoch never committed, so the restart redelivers it in
    # full: duplicates are exactly the pre-crash deliveries
    assert len(delivered) == len(pre_crash) + len(all_ids)
    from collections import Counter

    dups = {m for m, c in Counter(delivered).items() if c > 1}
    assert dups == set(pre_crash), "dups only where the crash interrupted"


def test_mux_sigkill_mid_batch_redelivers_all_configs(spark, tmp_path):
    """The multiplexed sink's documented trade under a REAL crash: the
    shared epoch redelivers every config's rows; no loss anywhere; dups
    exactly the pre-crash POSTs."""
    from pulsar_beam_spark.streaming.delivery import (
        WebhookSink,
        deliver_multiplexed_stream,
    )

    workdir = str(tmp_path / "wd")
    os.makedirs(workdir)
    rows = [
        (f"m-{i:02d}", f"persistent://t/ns/topic{i % 3}", str(i),
         f"v{i}".encode(), T0 + timedelta(minutes=i),
         T0 + timedelta(minutes=i), {})
        for i in range(12)
    ]
    spark.createDataFrame(rows, MESSAGE_SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(workdir, "msgs"))

    rc = _run_worker("mux_mid_batch", workdir, kill_on_marker=True)
    _assert_killed(workdir, rc)
    log = os.path.join(workdir, "delivered.txt")
    with open(log) as f:
        pre_crash = [ln.strip() for ln in f if ln.strip()]
    assert 0 < len(pre_crash) < 12, "must die MID-batch"

    def transport(url, body, headers):
        fd = os.open(log, os.O_WRONLY | os.O_APPEND | os.O_CREAT)
        os.write(fd, (f"{url}|{headers['PulsarMessageId']}\n").encode())
        os.close(fd)
        return 200, {}, b""

    configs = spark.createDataFrame(
        [(f"sub-{i}", f"persistent://t/ns/topic{i}", f"http://ep{i}", [])
         for i in range(3)],
        "sub_key string, topic_full_name string, url string, headers array<string>",
    )
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(
        os.path.join(workdir, "msgs"))
    q = deliver_multiplexed_stream(
        stream, configs, os.path.join(workdir, "ckpt"),
        sink_factory=lambda cfg: WebhookSink(cfg["url"], transport=transport),
        query_name="chaos-mux-restart",
    )
    q.processAllAvailable()
    q.stop()

    with open(log) as f:
        delivered = [ln.strip() for ln in f if ln.strip()]
    # each message routes to exactly ONE config (topic i%3 -> sub-i)
    expected = {f"http://ep{i % 3}|m-{i:02d}" for i in range(12)}
    assert set(delivered) == expected, "no loss for any config"
    assert len(delivered) == len(pre_crash) + len(expected)
    from collections import Counter

    dups = {m for m, c in Counter(delivered).items() if c > 1}
    assert dups == set(pre_crash), "dups only where the crash interrupted"


# == bounded poll ========================================================

def _poll_setup(spark, tmp_path) -> str:
    workdir = str(tmp_path / "wd")
    os.makedirs(workdir)
    rows = [
        (f"m-{i:02d}", "persistent://t/ns/a", str(i), f"v{i}".encode(),
         T0 + timedelta(minutes=i), T0 + timedelta(minutes=i), {})
        for i in range(12)
    ]
    spark.createDataFrame(rows, MESSAGE_SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(workdir, "msgs"))
    return workdir


def test_poll_sigkill_before_cursor_write_redelivers(spark, tmp_path):
    from pulsar_beam_spark.streaming.poll import bounded_poll

    workdir = _poll_setup(spark, tmp_path)
    rc = _run_worker("poll_before_cursor", workdir)
    _assert_killed(workdir, rc)
    assert not os.path.exists(os.path.join(workdir, "poll-ckpt", "CURSOR"))

    ckpt = os.path.join(workdir, "poll-ckpt")
    msgs = os.path.join(workdir, "msgs")
    p1 = bounded_poll(spark, msgs, batch_size=5, checkpoint_dir=ckpt)
    assert [m["message_id"] for m in p1["messages"]] == [
        f"m-{i:02d}" for i in range(5)
    ], "the un-acked batch must redeliver after the crash"
    p2 = bounded_poll(spark, msgs, batch_size=5, checkpoint_dir=ckpt)
    p3 = bounded_poll(spark, msgs, batch_size=5, checkpoint_dir=ckpt)
    got = [m["message_id"] for m in p2["messages"] + p3["messages"]]
    assert got == [f"m-{i:02d}" for i in range(5, 12)]


def test_poll_sigkill_after_cursor_write_acks(spark, tmp_path):
    from pulsar_beam_spark.streaming.poll import bounded_poll

    workdir = _poll_setup(spark, tmp_path)
    rc = _run_worker("poll_after_cursor", workdir)
    _assert_killed(workdir, rc)
    assert os.path.exists(os.path.join(workdir, "poll-ckpt", "CURSOR"))

    ckpt = os.path.join(workdir, "poll-ckpt")
    msgs = os.path.join(workdir, "msgs")
    # the crashed poll ACKED its batch before dying (the reference's
    # ack-then-respond window): the next poll continues past it
    p = bounded_poll(spark, msgs, batch_size=5, checkpoint_dir=ckpt)
    assert [m["message_id"] for m in p["messages"]] == [
        f"m-{i:02d}" for i in range(5, 10)
    ]
    p = bounded_poll(spark, msgs, batch_size=5, checkpoint_dir=ckpt)
    assert [m["message_id"] for m in p["messages"]] == ["m-10", "m-11"]
    assert bounded_poll(spark, msgs, batch_size=5, checkpoint_dir=ckpt) is None


def test_merge_sink_recovers_over_torn_vdir_write(spark, tmp_path):
    """Crash DURING the epoch's v-dir parquet write (before the pointer
    flip): the v-dir holds FileOutputCommitter debris — a _temporary
    dir and an orphaned part file, no _SUCCESS. The restart's replay
    overwrites the torn directory wholesale and converges; readers
    never saw it (LATEST was never flipped). Constructed-state golden
    (the JVM cannot be killed mid-write deterministically); the SIGKILL
    scenarios above cover the before/after-flip windows."""
    workdir = _merge_setup(spark, tmp_path)
    vdir = os.path.join(workdir, "snap", "v0")
    os.makedirs(os.path.join(vdir, "_temporary", "0"))
    with open(os.path.join(vdir, "part-00000-torn.snappy.parquet"), "wb") as f:
        f.write(b"PAR1this-is-not-a-complete-parquet-file")
    assert not os.path.exists(os.path.join(workdir, "snap", "LATEST"))

    assert _merge_restart_and_read(spark, workdir) == MERGE_EXPECTED
    assert not os.path.exists(os.path.join(vdir, "_temporary")), \
        "overwrite must clear the torn write's debris"
    assert not os.path.exists(os.path.join(vdir, "part-00000-torn.snappy.parquet"))


def test_reply_chain_replay_duplicates_collide_by_id(spark, tmp_path):
    """SIGKILL after the reply-table append, before the stream commit:
    the replayed epoch appends the same replies AGAIN. Deterministic
    reply ids (round 9) make the replay duplicates collide by
    message_id, so a downstream exact-dedup yields exactly one reply
    per source message — the chain table is exactly-once-able (the old
    uuid ids made replay duplicates indistinguishable from real ones)."""
    from pulsar_beam_spark.streaming.delivery import (
        WebhookSink,
        deliver_multiplexed_stream,
    )

    workdir = str(tmp_path / "wd")
    os.makedirs(workdir)
    rows = [
        (f"m-{i:02d}", "persistent://t/ns/a", str(i), f"v{i}".encode(),
         T0 + timedelta(minutes=i), T0 + timedelta(minutes=i), {})
        for i in range(8)
    ]
    spark.createDataFrame(rows, MESSAGE_SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(workdir, "msgs"))

    rc = _run_worker("reply_after_append", workdir)
    _assert_killed(workdir, rc)
    reply_dir = os.path.join(workdir, "reply")
    first = spark.read.schema(MESSAGE_SCHEMA).parquet(reply_dir).collect()
    assert len(first) == 8, "the crashed run appended one reply per message"

    def transport(url, body, headers):
        return 200, {"TopicFn": "persistent://t/ns/reply",
                     "PulsarUrl": "pulsar://c:6650"}, b"pong:" + bytes(body)

    sink = WebhookSink("http://chaos-stub", transport=transport)
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(
        os.path.join(workdir, "msgs"))
    q = deliver_multiplexed_stream(
        stream, topic_routes(spark, ["persistent://t/ns/a"], sink.url),
        os.path.join(workdir, "ckpt"), sink_factory=lambda cfg: sink,
        reply_table_dir=reply_dir, query_name="chaos-reply-restart",
    )
    q.processAllAvailable()
    q.stop()

    replies = spark.read.schema(MESSAGE_SCHEMA).parquet(reply_dir).collect()
    ids = [r["message_id"] for r in replies]
    assert len(ids) == 16, "replay appends the epoch again (at-least-once)"
    assert len(set(ids)) == 8, "replay duplicates must collide by id"
    from collections import Counter

    assert all(c == 2 for c in Counter(ids).values())
    assert all(i.startswith("reply-0-") for i in ids), "epoch-scoped ids"
    # payloads of colliding ids are identical -> exact-dedup is safe
    by_id = {}
    for r in replies:
        by_id.setdefault(r["message_id"], set()).add(bytes(r["payload"]))
    assert all(len(v) == 1 for v in by_id.values())
