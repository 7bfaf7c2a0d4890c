"""G2/G3/S8 — webhook fan-out delivery sink with bounded retry, ack
semantics, and the reply-to-topic chain.

Reference parity (src/broker/webhook.go:96-241):
- headers enriched per message: message id, publish/event time, topic,
  flattened properties; content-type sniffed from JSON validity
  (webhook.go:223-236).
- POST with bounded retry, backoff 2s min / 28s max, 1 retry
  (webhook.go:99-101) — knobs on WebhookSink.
- ack on 2xx AND 422 (deliberate, webhook.go:155); anything else is
  no-ack -> the micro-batch fails and checkpoint rollback redelivers
  (at-least-once, the Spark analogue of Pulsar redelivery).
- 2xx responses carrying TopicFn+PulsarUrl headers re-enter the produce
  path: the response body is appended to the reply stream's table
  (toPulsar, webhook.go:131-151).

Scale — one delivery shape at every fleet size (G9):
``deliver_multiplexed_stream`` runs ONE StreamingQuery for all configs —
the message stream joins (broadcast, stream-static) the config snapshot
on topic name, and each executor partition routes rows to a per-``sub_key``
sink instance. Per-webhook ack/retry/reply semantics are preserved
row-by-row; the trade is failure isolation: one endpoint exhausting its
retries fails the shared micro-batch and redelivers ALL configs' rows of
that epoch (at-least-once; endpoints must dedup on PulsarMessageId,
which the reference also requires). The reconciler keeps exactly one
such query over the whole desired set. See SCALE.md "Multiplexed
delivery".

Inside foreachBatch, rows post from executor partitions with one pooled
HTTP connection per (partition x webhook) (≙ the reference's TTL'd
producer/client caches, G13).
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def _is_json(b: bytes) -> bool:
    try:
        json.loads(b.decode("utf-8"))
        return True
    except Exception:
        return False


@dataclass
class WebhookSink:
    url: str
    headers: list[str] = field(default_factory=list)
    retry_max: int = 1
    retry_wait_min_s: float = 2.0
    retry_wait_max_s: float = 28.0
    timeout_s: float = 10.0
    # test hook: monkeypatchable transport(url, body, headers) -> (status, resp_headers, resp_body)
    transport: object = None

    def _post(self, body: bytes, headers: dict[str, str]):
        if self.transport is not None:
            return self.transport(self.url, body, headers)
        req = urllib.request.Request(self.url, data=body, headers=headers, method="POST")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                return resp.status, dict(resp.headers), resp.read()
        except urllib.error.HTTPError as e:
            return e.code, dict(e.headers), e.read()

    def push(self, row: dict) -> tuple[bool, tuple | None]:
        """Deliver one message. Returns (acked, reply_or_None); raises on
        exhausted retries (no-ack -> batch failure -> redelivery)."""
        payload = bytes(row["payload"]) if row.get("payload") is not None else b""
        headers = {
            "Content-Type": "application/json" if _is_json(payload) else "text/plain",
            "PulsarMessageId": str(row.get("message_id")),
            "PulsarTopic": str(row.get("topic")),
            "PulsarEventTime": str(row.get("event_time")),
            "PulsarPublishTime": str(row.get("publish_time")),
        }
        for h in self.headers:
            if ":" in h:
                k, v = h.split(":", 1)
                headers[k.strip()] = v.strip()
        for k, v in (row.get("properties") or {}).items():
            headers[str(k)] = str(v)

        attempt, wait = 0, self.retry_wait_min_s
        while True:
            try:
                status, rheaders, rbody = self._post(payload, headers)
            except Exception:
                status, rheaders, rbody = 599, {}, b""
            if 200 <= status < 300:
                reply = self._maybe_reply(rheaders, rbody)
                return True, reply
            if status == 422:  # deliberate ack-and-drop (webhook.go:155)
                return True, None
            attempt += 1
            if attempt > self.retry_max:
                raise RuntimeError(f"webhook {self.url} failed with {status} after {attempt} attempts")
            time.sleep(min(wait, self.retry_wait_max_s))
            wait *= 2

    @staticmethod
    def _maybe_reply(rheaders: dict, rbody: bytes) -> tuple | None:
        """Reply chain: 2xx response with TopicFn (+ PulsarUrl) headers and
        a body produces the body onto that topic (webhook.go:131-151)."""
        hdrs = {k.lower(): v for k, v in rheaders.items()}
        topic_fn = hdrs.get("topicfn")
        if topic_fn and rbody:
            return (topic_fn, hdrs.get("pulsarurl", ""), rbody)
        return None


def _append_replies(
    replies: DataFrame,
    epoch: int,
    reply_table_dir: str | None,
    reply_write_partitions: int | None,
) -> None:
    """Execute the delivery plan exactly once, executor-side, and append
    any reply tuples to the chain table (stamped in-plan — the reference
    stamps EventTime at produce, pulsar-producer.go:91). ``replies`` must
    be the mapInPandas output: ONE action here is the one delivery.

    Reply ids are DETERMINISTIC: ``reply-{epoch}-{sha1(src_key|topic)}``
    where src_key names the (source message x config) that produced the
    reply. A crash after this append but before the stream checkpoint
    commits replays the epoch and appends the SAME ids again (round-9
    self-probe: the previous ``uuid()`` ids made replay duplicates
    indistinguishable from distinct replies, so no downstream consumer
    could ever dedup the chain table) — with deterministic ids the
    chain is exactly-once-able through the repo's own exact-dedup
    operators, the same contract webhook endpoints get via
    PulsarMessageId."""
    from pyspark.sql import functions as F

    if not reply_table_dir:
        # no chain table configured: still execute the delivery plan,
        # executor-side, with a no-op sink
        replies.write.format("noop").mode("overwrite").save()
        return
    if reply_write_partitions:
        # repartition (an exchange), NOT coalesce: the shuffle boundary
        # keeps delivery at full width and moves only the reply tuples
        replies = replies.repartition(reply_write_partitions)
    out = replies.select(
        F.concat_ws(
            "-", F.lit("reply"), F.lit(str(epoch)),
            F.sha1(F.concat_ws("|", F.col("src_key"), F.col("topic"))),
        ).alias("message_id"),
        F.col("topic"),
        F.lit(None).cast("string").alias("key"),
        F.col("body").alias("payload"),
        F.current_timestamp().alias("event_time"),
        F.current_timestamp().alias("publish_time"),
        F.create_map(F.lit("PulsarUrl"), F.col("pulsar_url")).alias("properties"),
    )
    # One executor-side job: deliver + append. A failed POST raises in
    # the task -> the write job fails -> checkpoint rollback redelivers
    # (at-least-once).
    out.write.mode("append").parquet(reply_table_dir)


def deliver_multiplexed_stream(
    stream: DataFrame,
    configs: DataFrame,
    checkpoint_dir: str,
    sink_factory=None,
    reply_table_dir: str | None = None,
    query_name: str = "webhook-delivery-mux",
    reply_write_partitions: int | None = None,
):
    """One StreamingQuery serving MANY webhook configs (G9 at 100x).

    ``configs`` is a STATIC snapshot frame with at least
    (sub_key, topic_full_name, url, headers) — the output of
    ``reconciler.desired_deliveries``. Each micro-batch joins the message
    stream to the broadcast config snapshot on topic name (stream-static
    inner join: a message on a topic with no activated webhook is simply
    not delivered), producing one delivery row per (message x config).
    Executor partitions route each row to a per-``sub_key`` sink built by
    ``sink_factory(config_dict) -> WebhookSink`` (default: a real HTTP
    ``WebhookSink(url, headers)``) — one pooled connection per
    (partition x webhook), the same G13 cache shape as the reference.

    Ack/retry/reply semantics are per row (WebhookSink.push). The trade
    (documented in SCALE.md) is failure isolation: one endpoint
    exhausting retries fails the shared micro-batch, and checkpoint
    rollback redelivers every config's rows of that epoch — at-least-
    once, never lost, but a poison endpoint head-of-line-blocks its
    cohort until it recovers or is deactivated.

    ``reply_write_partitions`` compacts the reply append: delivery still
    fans out at full map-stage width, then ONLY the reply tuples shuffle
    down to this many writer tasks — one small parquet file per epoch per
    writer instead of one per delivery partition (the small-files knob
    for long-running chains).  None (default) keeps the map-stage layout:
    zero extra shuffle, best when replies are large (chain mode, where
    every webhook responds with a body).  Never use coalesce here — it
    would propagate upstream and collapse the DELIVERY stage itself onto
    the writer count.
    """
    from pyspark.sql import functions as F

    if sink_factory is None:
        def sink_factory(cfg: dict) -> WebhookSink:
            return WebhookSink(cfg["url"], headers=list(cfg.get("headers") or []))

    route = F.broadcast(
        configs.select("sub_key", "topic_full_name", "url", "headers")
    )

    def deliver_batches(pdfs):
        # runs ON THE EXECUTOR: one sink per sub_key per partition,
        # created lazily on first row and reused across Arrow batches.
        import pandas as pd

        sinks: dict[str, WebhookSink] = {}
        for pdf in pdfs:
            out = []
            for rec in pdf.to_dict("records"):
                sk = rec["sub_key"]
                sink = sinks.get(sk)
                if sink is None:
                    hdrs = rec.get("headers")
                    sink = sinks[sk] = sink_factory(
                        {"sub_key": sk, "url": rec["url"],
                         "headers": list(hdrs) if hdrs is not None else []}
                    )
                acked, reply = sink.push(rec)
                if acked and reply is not None:
                    # provenance includes the config: the SAME source
                    # message replied through two configs is two distinct
                    # replies, but an epoch REPLAY of either mints the
                    # same id (_append_replies' deterministic reply ids).
                    # The config identity is the URL, so two queries
                    # with independent checkpoints that share a reply
                    # table (one query per source, or a redeployment onto
                    # a fresh checkpoint) also collide by id instead of
                    # leaving undedupable duplicates (round-11 delivery
                    # fuzz).
                    out.append((*reply, f"{rec.get('message_id')}|{rec['url']}"))
            yield pd.DataFrame(out, columns=["topic", "pulsar_url", "body", "src_key"])

    def handle(df: DataFrame, epoch: int) -> None:
        # Empty-epoch gate: isEmpty() on the SOURCE batch df is a cheap
        # limit-1 probe of the already-materialized micro-batch — no side
        # effects, because the delivery plan (mapInPandas) hasn't been
        # applied yet. It must NEVER move after mapInPandas: probing the
        # delivery plan would POST every row, and the write would then
        # re-execute it — double delivery. With the gate, long-running
        # trigger-interval streams stop accumulating zero-row reply part
        # files on idle epochs.
        if df.isEmpty():
            return
        routed = df.join(route, df["topic"] == route["topic_full_name"], "inner")
        # Second gate on the ROUTED frame: a batch whose messages all miss
        # the config snapshot (no activated webhook on those topics) would
        # otherwise still append a zero-row reply part file every epoch —
        # the same small-files leak the source gate closes. Probing the
        # join is side-effect-free (limit-1 over a broadcast join; the
        # delivery mapInPandas is not applied yet).
        if routed.isEmpty():
            return
        replies = routed.mapInPandas(
            deliver_batches, "topic string, pulsar_url string, body binary, src_key string"
        )
        _append_replies(replies, epoch, reply_table_dir, reply_write_partitions)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
