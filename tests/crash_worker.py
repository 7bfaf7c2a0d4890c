"""Subprocess body for the real-process crash-chaos tests
(tests/test_crash_chaos.py — VERDICT r08 item 2).

Runs ONE streaming-sink scenario in its own Python driver + Spark JVM
and dies by SIGKILL of its whole process group at a named kill-point —
a genuine process crash (kernel kill, no atexit, no finally, JVM dies
with the session), not the marker-file surgery the earlier simulated
crash tests used. The parent test then restarts the same pipeline from
the surviving on-disk state and asserts the delivery contracts.

Usage: python tests/crash_worker.py <scenario> <workdir>

Kill-points (the windows webhook.go:153-241's contract cares about):
- merge_before_flip : after the epoch's v-dir write, before the LATEST
                      pointer flip (snapshot must stay on the previous
                      consistent version; replay re-merges).
- merge_after_flip  : after the pointer flip, before the stream
                      checkpoint commit (replay must be a no-op — the
                      round-7 read-while-overwrite contract).
- deliver_mid_batch : mid-POST-loop inside the webhook fan-out (the
                      parent kills on a marker; the crashed epoch must
                      redeliver in full — at-least-once, dups only for
                      the rows POSTed before the kill).
- poll_before_cursor: after the batch rows are collected, before the
                      row-granular cursor write (ack) — the batch must
                      redeliver.
- poll_after_cursor : after the cursor write — the batch is acked; the
                      next poll continues past it (the reference's
                      ack-then-respond window, sse-broker.go:48-57).
"""

from __future__ import annotations

import os
import signal
import sys
import time


def _die():
    """SIGKILL the whole process group (this driver + its Spark JVM).
    The worker is launched with start_new_session=True, so pid == pgid."""
    os.killpg(os.getpid(), signal.SIGKILL)


def _mark(workdir: str, name: str) -> None:
    with open(os.path.join(workdir, name), "w") as f:
        f.write(str(time.time()))


def _spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _merge_stream(spark, workdir: str):
    from pyspark.sql import functions as F

    from pulsar_beam_spark.streaming.merge_sink import snapshot_merge_stream

    schema = "k long, v string, ts long, seq long, dead int"
    stream = spark.readStream.schema(schema).parquet(os.path.join(workdir, "log"))
    return snapshot_merge_stream(
        stream,
        os.path.join(workdir, "snap"),
        os.path.join(workdir, "ckpt"),
        keys=["k"], order_col="ts", tiebreak="seq",
        tombstone=F.col("dead") == 1, payload_cols=["v"],
    )


def merge_before_flip(workdir: str) -> None:
    from pulsar_beam_spark.streaming import merge_sink

    def killing_flip(snapshot_dir: str, version: str) -> None:
        _mark(workdir, "KILLPOINT")
        _die()

    merge_sink._flip_pointer = killing_flip
    q = _merge_stream(_spark(), workdir)
    q.awaitTermination(180)


def merge_after_flip(workdir: str) -> None:
    from pulsar_beam_spark.streaming import merge_sink

    real_flip = merge_sink._flip_pointer

    def flip_then_die(snapshot_dir: str, version: str) -> None:
        real_flip(snapshot_dir, version)
        _mark(workdir, "KILLPOINT")
        _die()

    merge_sink._flip_pointer = flip_then_die
    q = _merge_stream(_spark(), workdir)
    q.awaitTermination(180)


def deliver_mid_batch(workdir: str) -> None:
    from pulsar_beam_spark.model.message import MESSAGE_SCHEMA
    from pulsar_beam_spark.streaming.delivery import (
        WebhookSink,
        deliver_multiplexed_stream,
    )
    from tests.conftest import topic_routes

    log = os.path.join(workdir, "delivered.txt")
    kill_marker = os.path.join(workdir, "KILLPOINT")

    def transport(url, body, headers):
        # runs in the EXECUTOR's Python worker: record through the
        # filesystem; after 7 deliveries, signal the parent to SIGKILL
        # this process group and freeze so the batch never completes.
        # O_APPEND single-line writes are atomic.
        n = 0
        if os.path.exists(log):
            with open(log) as f:
                n = sum(1 for _ in f)
        if n >= 7:
            with open(kill_marker, "w") as f:
                f.write("kill me")
            # bounded freeze: if the parent somehow never kills, exit
            # rather than leak a python worker
            time.sleep(180)
            os._exit(1)
        fd = os.open(log, os.O_WRONLY | os.O_APPEND | os.O_CREAT)
        os.write(fd, (headers["PulsarMessageId"] + "\n").encode())
        os.close(fd)
        return 200, {}, b""

    spark = _spark()
    sink = WebhookSink("http://chaos-stub", transport=transport)
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(
        os.path.join(workdir, "msgs"))
    q = deliver_multiplexed_stream(
        stream,
        topic_routes(spark, ["persistent://t/ns/a"], sink.url),
        os.path.join(workdir, "ckpt"),
        sink_factory=lambda cfg: sink,
        query_name="chaos-delivery",
    )
    q.awaitTermination(180)


def mux_mid_batch(workdir: str) -> None:
    """Multiplexed fan-out (one query, many configs): die mid-POST-loop.
    The shared micro-batch must redeliver EVERY config's rows on restart
    (the documented mux trade: shared-epoch at-least-once)."""
    from pulsar_beam_spark.model.message import MESSAGE_SCHEMA
    from pulsar_beam_spark.streaming.delivery import (
        WebhookSink,
        deliver_multiplexed_stream,
    )

    log = os.path.join(workdir, "delivered.txt")
    kill_marker = os.path.join(workdir, "KILLPOINT")

    def transport(url, body, headers):
        n = 0
        if os.path.exists(log):
            with open(log) as f:
                n = sum(1 for _ in f)
        if n >= 7:
            with open(kill_marker, "w") as f:
                f.write("kill me")
            time.sleep(180)
            os._exit(1)
        fd = os.open(log, os.O_WRONLY | os.O_APPEND | os.O_CREAT)
        os.write(fd, (f"{url}|{headers['PulsarMessageId']}\n").encode())
        os.close(fd)
        return 200, {}, b""

    spark = _spark()
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
        query_name="chaos-mux",
    )
    q.awaitTermination(180)


def reply_after_append(workdir: str) -> None:
    """Kill AFTER the reply-table append, BEFORE the stream checkpoint
    commits: the restart replays the epoch and appends the replies
    AGAIN. With deterministic reply ids the duplicates collide by id
    (downstream exact-dedup collapses them); the parent asserts that."""
    from pulsar_beam_spark.model.message import MESSAGE_SCHEMA
    from pulsar_beam_spark.streaming import delivery
    from tests.conftest import topic_routes

    real_append = delivery._append_replies

    def append_then_die(replies, epoch, reply_table_dir, reply_write_partitions):
        real_append(replies, epoch, reply_table_dir, reply_write_partitions)
        _mark(workdir, "KILLPOINT")
        _die()

    delivery._append_replies = append_then_die

    def transport(url, body, headers):
        return 200, {"TopicFn": "persistent://t/ns/reply",
                     "PulsarUrl": "pulsar://c:6650"}, b"pong:" + bytes(body)

    spark = _spark()
    sink = delivery.WebhookSink("http://chaos-stub", transport=transport)
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(
        os.path.join(workdir, "msgs"))
    q = delivery.deliver_multiplexed_stream(
        stream,
        topic_routes(spark, ["persistent://t/ns/a"], sink.url),
        os.path.join(workdir, "ckpt"),
        sink_factory=lambda cfg: sink,
        reply_table_dir=os.path.join(workdir, "reply"),
        query_name="chaos-reply",
    )
    q.awaitTermination(180)


def _poll(workdir: str) -> None:
    from pulsar_beam_spark.streaming.poll import bounded_poll

    out = bounded_poll(
        _spark(),
        os.path.join(workdir, "msgs"),
        batch_size=5,
        checkpoint_dir=os.path.join(workdir, "poll-ckpt"),
    )
    # only reached in the after-cursor scenario if the kill hook failed
    _mark(workdir, "RETURNED")
    print(out)


def poll_before_cursor(workdir: str) -> None:
    from pulsar_beam_spark.streaming import poll as poll_mod

    def die_instead(checkpoint_dir: str, state: dict) -> None:
        _mark(workdir, "KILLPOINT")
        _die()

    poll_mod._write_cursor = die_instead
    _poll(workdir)


def poll_after_cursor(workdir: str) -> None:
    from pulsar_beam_spark.streaming import poll as poll_mod

    real_write = poll_mod._write_cursor

    def write_then_die(checkpoint_dir: str, state: dict) -> None:
        real_write(checkpoint_dir, state)
        _mark(workdir, "KILLPOINT")
        _die()

    poll_mod._write_cursor = write_then_die
    _poll(workdir)


SCENARIOS = {
    "merge_before_flip": merge_before_flip,
    "merge_after_flip": merge_after_flip,
    "deliver_mid_batch": deliver_mid_batch,
    "mux_mid_batch": mux_mid_batch,
    "reply_after_append": reply_after_append,
    "poll_before_cursor": poll_before_cursor,
    "poll_after_cursor": poll_after_cursor,
}


if __name__ == "__main__":
    scenario, workdir = sys.argv[1], sys.argv[2]
    _mark(workdir, "WORKER_STARTED")
    SCENARIOS[scenario](workdir)
    _mark(workdir, "WORKER_FINISHED")  # a kill scenario must never get here
