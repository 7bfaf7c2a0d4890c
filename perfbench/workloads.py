"""The workloads. Each takes a ``Ctx`` and returns a ``Result``
holding the end-to-end metrics, the named per-workload metrics, the
per-layer metrics (traced runs) and the correctness tally."""

from __future__ import annotations

import asyncio
import json
import math
import os
import random
import sys
import threading
import time
from dataclasses import dataclass, field

from perfbench import common
from perfbench.common import (HttpConn, OpenLoop, Proc, geomean, median, pct,
                              read_head, slope_per_s, tail_q)
from perfbench.tracer import load_spans

PULSAR_URL = "pulsar://localhost:6650"
TENANT = "bench"
LATE_LIMIT_MS = 20.0

# batch_analytics entries; each matches its DuckDB oracle on generated sf0.1
# inputs. e_ivfpq_codes_topk is left out: training its persisted IVFPQ
# artifacts adds ~12 s of set-up to every run on a 4-core host, which the
# benchmark's total time budget cannot carry.
ENTRIES = ["flagship_revenue_by_nation", "tpch_q18_large_orders", "r10_asof_join",
           "s5_session_window", "s6_stateful_dedup", "d_minhash_lsh_near_dup",
           "t_bm25_indexed", "r34_pandas_grouped_map"]
TINY_ENTRIES = ["r10_asof_join", "s6_stateful_dedup"]


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    drop_delivery: int
    run_dir: str
    rng: random.Random = None

    def __post_init__(self):
        self.rng = random.Random(self.seed)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)     # generic end-to-end metrics
    named: dict = field(default_factory=dict)   # name -> (value, unit)
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced)
    errors: list = field(default_factory=list)  # correctness failures
    invalid: list = field(default_factory=list)  # validity failures

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.errors.append(what)


# -- shared helpers --------------------------------------------------------


def topic_fn(k) -> str:
    return f"persistent://{TENANT}/ns/t{k}"


def make_keys(run_dir: str) -> tuple[str, str]:
    """Mint an RSA key pair (PEM files) and a JWT for the bench tenant."""
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    from pulsar_beam_spark.icrypto import RSAKeyPair

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    priv = key.private_bytes(serialization.Encoding.PEM,
                             serialization.PrivateFormat.PKCS8,
                             serialization.NoEncryption()).decode()
    pub = key.public_key().public_bytes(
        serialization.Encoding.PEM,
        serialization.PublicFormat.SubjectPublicKeyInfo).decode()
    pub_path = os.path.join(run_dir, "key.pub")
    with open(pub_path, "w") as f:
        f.write(pub)
    return pub_path, RSAKeyPair.from_pem(priv, pub).generate_token(TENANT)


def gateway(ctx: Ctx, topics_dir: str, pub: str, extra: list[str] = ()) -> tuple[Proc, int]:
    spans = os.path.join(ctx.run_dir, "gateway-spans.jsonl") if ctx.trace else None
    return common.start_gateway(
        ctx.run_dir, ["--mode", "hybrid", "--topics-dir", topics_dir,
                      "--public-key", pub, "--allowed-cluster", PULSAR_URL, *extra], spans)


def payload(ident: str, rng: random.Random, stamp: float | None = None) -> bytes:
    doc = {"id": ident, "user": rng.randrange(100_000), "t": stamp}
    doc["pad"] = "x" * max(0, 200 - len(json.dumps(doc)) - 10)
    return json.dumps(doc).encode()


def read_topic_payload_ids(topics_dir: str) -> dict[str, list[str]]:
    """{topic dir name: [payload id, ...]} straight from the parquet files."""
    import pyarrow.parquet as pq

    out: dict[str, list[str]] = {}
    for d in sorted(os.listdir(topics_dir)):
        ids = out.setdefault(d, [])
        for f in sorted(os.listdir(os.path.join(topics_dir, d))):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(topics_dir, d, f), columns=["payload"])
                ids.extend(json.loads(p)["id"] for p in t.column("payload").to_pylist())
    return out


def topic_dirname(k) -> str:
    from pulsar_beam_spark.server.store import _topic_dirname

    return _topic_dirname(topic_fn(k))


def lateness(res: Result, late: list[float]) -> None:
    """Generator validity: the schedule must be kept to within
    ``LATE_LIMIT_MS`` at p99."""
    p99 = pct(late, 99) * 1000
    res.layers["loadgen.late_ms_p99"] = p99
    res.named["generator_late_p99_ms"] = (p99, "ms")
    if p99 > LATE_LIMIT_MS:
        res.invalid.append(
            f"generator fell behind: lateness p99 {p99:.1f} ms > {LATE_LIMIT_MS:g} ms")


def ms(v: float) -> float:
    return v * 1000.0


def span_stats(spans: list[dict], name: str) -> list[float]:
    return [ms(s["end"] - s["start"]) for s in spans if s["name"] == name]


def gateway_layers(res: Result, spans: list[dict], client: list[dict]) -> None:
    """Per-layer metrics of the gateway process from its span file."""
    disp = [s for s in spans if s["name"] == "gateway.dispatch"]
    disp_ms = [ms(s["end"] - s["start"]) for s in disp]
    verify = [s for s in spans if s["name"] == "icrypto.verify"]
    verify_us = [1000 * ms(s["end"] - s["start"]) for s in verify]
    L = res.layers
    L["gateway.requests"] = len(disp)
    L["gateway.dispatch_ms_p50"] = median(disp_ms)
    L["gateway.dispatch_ms_p99"] = pct(disp_ms, 99)
    L["gateway.rejected_429"] = sum(1 for s in disp if s.get("status") == 429)
    d_by_rid = {s["rid"]: ms(s["end"] - s["start"]) for s in disp if s.get("rid")}
    transport = [ms(r["done"] - r["sent"]) - d_by_rid[r["rid"]]
                 for r in client if r.get("rid") in d_by_rid]
    L["gateway.transport_ms_p50"] = median(transport)
    L["icrypto.verify_calls"] = len(verify)
    L["icrypto.verify_us_p50"] = median(verify_us)
    tot = sum(disp_ms)
    L["icrypto.verify_share_of_dispatch"] = sum(verify_us) / 1000 / tot if tot else 0.0
    L["store.append_us_p50"] = median([1000 * v for v in span_stats(spans, "store.append")])
    flush = [s for s in spans if s["name"] == "store.flush" and s.get("rows")]
    L["store.flush_calls"] = len(flush)
    L["store.flush_ms_p50"] = median([ms(s["end"] - s["start"]) for s in flush])
    L["store.rows_per_flush"] = (sum(s["rows"] for s in flush) / len(flush)) if flush else 0.0
    scans = [s for s in spans if s["name"] == "store.scan"]
    L["store.scan_calls"] = len(scans)
    L["store.scan_ms_p50"] = median([ms(s["end"] - s["start"]) for s in scans])
    L["store.scan_empty_ratio"] = (sum(1 for s in scans if not s.get("rows")) / len(scans)
                                   if scans else 0.0)
    L["config.update_ms_p50"] = median(span_stats(spans, "config.update"))


def poll_layers(res: Result, spans: list[dict]) -> None:
    """Per-layer metrics of ``TopicDirStore.poll`` from the gateway's spans."""
    polls = {s["id"] for s in spans if s["name"] == "store.poll"}
    listed = sum(1 for s in spans if s["name"] == "store.footer" and s["parent"] in polls)
    read = sum(1 for s in spans if s["name"] == "store.read_rows" and s["parent"] in polls)
    L = res.layers
    L["store.poll_ms_p50"] = median(span_stats(spans, "store.poll"))
    L["store.poll_files_listed"] = listed
    L["store.poll_files_read"] = read
    L["store.poll_read_ratio"] = read / listed if listed else 0.0


def count_files(topics_dir: str) -> int:
    return sum(1 for _, _, fs in os.walk(topics_dir) for f in fs if f.endswith(".parquet"))


# -- backlog poll phase (part of gateway_ingest) -------------------------------

# the topic the poll phase prefills and polls; no ingest traffic reaches it
BACKLOG = "backlog"


def expected_earliest(topics_dir: str, dirname: str, n: int) -> list[str]:
    """The earliest ``n`` message ids by (event_time, message_id), read
    directly with pyarrow."""
    import pyarrow.parquet as pq

    d = os.path.join(topics_dir, dirname)
    rows = []
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(d, f), columns=["message_id", "event_time"])
            rows.extend(zip(t.column("event_time").to_pylist(),
                            t.column("message_id").to_pylist()))
    return [m for _, m in sorted(rows)[:n]]


def poll_phase(ctx: Ctx, loop, port: int, token: str, topics_dir: str) -> dict:
    """The store's read side beside writes: prefill the ``BACKLOG`` topic
    with single-message files by sync produce, then ``GET
    /v2/poll/...?batchSize=10`` at 4/s beside sync POSTs to the same topic
    at 10/s, one connection each, for half the run's seconds.
    ``TopicDirStore.poll`` reads every file's footer on each call.

    Its latencies are named metrics, not bounded ones: a poll is ~60 ms of
    single-threaded interpreter work whose median over a run follows a
    shared host's speed further than the largest allowed bound, and longer
    runs barely narrowed that (README.md, "Choices")."""
    backlog = 50 if ctx.tiny else 300
    poll_rate, produce_rate, batch = 4.0, 10.0, 10
    auth = {"Authorization": f"Bearer {token}"}

    def post(i, prefix):
        rid = f"{prefix}-{i}"
        return ("POST", f"/v2/firehose/persistent/{TENANT}/ns/t{BACKLOG}",
                {**auth, "Content-Type": "application/json", "X-Request-Id": rid},
                payload(rid, ctx.rng), {"rid": rid})

    async def prefill():
        conn = HttpConn("127.0.0.1", port)
        statuses = []
        for i in range(backlog):
            method, path, headers, body, _ = post(i, "pre")
            statuses.append((await conn.request(method, path, headers, body))[0])
        conn.close()
        return statuses

    start = time.perf_counter()
    pre = loop.run_until_complete(prefill())
    want = expected_earliest(topics_dir, topic_dirname(BACKLOG), batch)
    polls: list[dict] = []

    def make_poll(i, _due):
        rid = f"poll-{i}"
        return ("GET", f"/v2/poll/persistent/{TENANT}/ns/t{BACKLOG}?batchSize={batch}",
                {**auth, "X-Request-Id": rid}, b"", {"rid": rid})

    def poll_done(rec, data):
        ids = [m["message_id"] for m in json.loads(data)["messages"]] if data else []
        rec["match"] = ids == want
        polls.append(rec)

    gp = OpenLoop("127.0.0.1", port, 1)
    gs = OpenLoop("127.0.0.1", port, 1)

    async def measure():
        await asyncio.gather(
            gp.run(poll_rate, ctx.seconds / 2, make_poll, poll_done),
            gs.run(produce_rate, ctx.seconds / 2, lambda i, _due: post(i, "sync")))

    loop.run_until_complete(measure())
    return {"start": start, "backlog": backlog, "pre": pre, "polls": polls,
            "produced": gs.results, "late": gp.late + gs.late}


def check_poll_phase(res: Result, pp: dict, stored: set) -> None:
    """Correctness of the poll phase and its named metrics."""
    polls, produced = pp["polls"], pp["produced"]
    statuses = pp["pre"] + [r["status"] for r in polls + produced]
    res.attempted += len(statuses) + len(polls)
    res.fail(sum(1 for s in statuses if s != 200), "non-200 poll-phase responses")
    res.fail(sum(1 for r in polls if not r["match"]),
             "polls that did not return the earliest rows by (event_time, message_id)")
    res.fail(sum(1 for r in produced if r["status"] == 200 and r["rid"] not in stored),
             "acked sync produces missing from the backlog topic dir")
    poll_ms = [ms(r["done"] - r["due"]) for r in polls]
    res.named.update({
        "poll_p50_ms": (median(poll_ms), "ms"),
        "poll_p90_ms": (pct(poll_ms, 90), "ms"),
        "sync_produce_p50_ms": (median([ms(r["done"] - r["due"]) for r in produced]), "ms"),
        "polls": (len(poll_ms), "count"),
        "backlog_files": (pp["backlog"], "count"),
    })


# -- gateway_ingest ----------------------------------------------------------


class SseClient:
    """Reads one SSE stream; records (payload id, receive time) per frame."""

    def __init__(self, host: str, port: int, path: str, token: str):
        self.host, self.port, self.path, self.token = host, port, path, token
        self.frames: list[tuple[str, float]] = []
        self.task = None

    async def start(self) -> None:
        self.reader, self.writer = await asyncio.open_connection(self.host, self.port)
        self.writer.write((f"GET {self.path} HTTP/1.1\r\nHost: {self.host}\r\n"
                           f"Authorization: Bearer {self.token}\r\n\r\n").encode())
        status, _ = await read_head(self.reader)
        if status != 200:
            raise RuntimeError(f"SSE subscribe failed: {status}")
        self.task = asyncio.ensure_future(self._read())

    async def _read(self) -> None:
        while True:
            line = await self.reader.readline()
            if not line:
                return
            if line.startswith(b"data: "):
                try:
                    ident = json.loads(line[6:])["id"]
                except (ValueError, KeyError):
                    ident = "?"
                self.frames.append((ident, time.perf_counter()))

    async def close(self) -> None:
        if self.task is not None:
            self.task.cancel()
            try:
                await self.task
            except asyncio.CancelledError:
                pass
        self.writer.close()


def ingest(ctx: Ctx) -> Result:
    """The open-loop firehose ladder with one SSE reader, then the backlog
    poll phase. The bounded end-to-end metrics come from the ladder alone."""
    res = Result()
    rates = [50, 100, 200] if ctx.tiny else [300, 600, 1200]
    # end-to-end latency is read at the lowest rate: on a 4-core host the
    # gateway's single interpreter is ~90 % busy at 600 req/s, where
    # latency swings with every neighbour; 1200 req/s is at or past capacity
    ref = rates[0]
    # half the run at the reference rate, so its p99 has ~15 samples beyond it
    share = {rates[0]: 0.5, rates[1]: 0.25, rates[2]: 0.25}
    conns, n_topics, p99_limit_ms = 3, 8, 50.0
    topics_dir = os.path.join(ctx.run_dir, "topics")
    sampler = common.RssSampler().start()

    t_setup = time.perf_counter()
    pub, token = make_keys(ctx.run_dir)
    gw, port = gateway(ctx, topics_dir, pub)
    sampler.pids.append(gw.pid)
    weights = common.zipf_weights(n_topics)
    loop = asyncio.new_event_loop()
    sse = SseClient("127.0.0.1", port, f"/v2/sse/persistent/{TENANT}/ns/t0", token)
    loop.run_until_complete(sse.start())
    t_run = time.perf_counter()
    setup_s = t_run - t_setup

    acked: dict[str, tuple[int, float]] = {}
    gen = OpenLoop("127.0.0.1", port, conns)
    per_rate: dict[int, list[dict]] = {}
    backlogs: dict[int, list] = {}
    try:
        for rate in rates:
            choice = ctx.rng.choices(range(n_topics), weights,
                                     k=int(rate * ctx.seconds * share[rate]) + 1)
            bodies = [payload(f"r{rate}-{i}", ctx.rng) for i in range(len(choice))]

            def make(i, _due, rate=rate, choice=choice, bodies=bodies):
                k = choice[i]
                rid = f"r{rate}-{i}"
                return ("POST", f"/v2/firehose/persistent/{TENANT}/ns/t{k}?mode=async",
                        {"Authorization": f"Bearer {token}",
                         "Content-Type": "application/json", "X-Request-Id": rid},
                        bodies[i], {"rid": rid, "topic": k})

            def done(rec, _data):
                if rec["status"] == 200:
                    acked[rec["rid"]] = (rec["topic"], rec["done"])

            mark = len(gen.backlog)
            per_rate[rate] = loop.run_until_complete(
                gen.run(rate, ctx.seconds * share[rate], make, done))
            backlogs[rate] = gen.backlog[mark:]
        # async appends flush on the store's 0.5 s timer; SSE then scans
        want = {rid for rid, (k, _) in acked.items() if k == 0}
        deadline = time.perf_counter() + 10
        while time.perf_counter() < deadline:
            loop.run_until_complete(asyncio.sleep(0.1))
            if want <= {i for i, _ in sse.frames}:
                break
        # one more flush interval, for rows of other topics appended after
        # the flush that carried t0's last row
        loop.run_until_complete(asyncio.sleep(0.6))
        loop.run_until_complete(sse.close())
        mem = sampler.stop(since=t_run)  # rss_mb covers the ladder only
        pp = poll_phase(ctx, loop, port, token, topics_dir)
    finally:
        loop.close()
        gw.stop()
        sampler.stop()

    # correctness: every ack is in its topic dir; SSE delivered each t0 id once
    stored = read_topic_payload_ids(topics_dir)
    stored_sets = {d: set(v) for d, v in stored.items()}
    missing = sum(1 for rid, (k, _) in acked.items()
                  if rid not in stored_sets.get(topic_dirname(k), ()))
    sent = [r for rate in rates for r in per_rate[rate]]
    non2xx = sum(1 for r in sent if r["status"] != 200)
    sse_ids = [i for i, _ in sse.frames]
    sse_missing = len(want - set(sse_ids))
    sse_dups = len(sse_ids) - len(set(sse_ids))
    res.attempted = len(sent) + len(want)
    res.fail(non2xx, f"{non2xx} firehose POSTs were not 200")
    res.fail(missing, f"{missing} acked messages missing from their topic dir")
    res.fail(sse_missing, f"{sse_missing} acked t0 messages never arrived over SSE")
    res.fail(sse_dups, f"{sse_dups} duplicate SSE frames")

    lat = {rate: [ms(r["done"] - r["due"]) for r in per_rate[rate]] for rate in rates}
    passing = [rate for rate in rates
               if pct(lat[rate], 99) <= p99_limit_ms
               and all(r["status"] == 200 for r in per_rate[rate])
               and slope_per_s(backlogs[rate]) <= 0.05 * rate]
    # sustained ack rate over the whole ladder: a rung past capacity
    # leaves a client backlog that stretches the span
    span = max(r["done"] for r in sent) - min(r["due"] for r in sent)
    ref_lat = lat[ref]
    # the bounded tail is p75: the store's 0.5 s flush timer stalls ~3-5 %
    # of requests (more while the host runs slow), and every statistic of
    # or near that band swings with the host's speed far beyond any usable
    # bound (across ten seeds p99 read 7-24 ms, p95 2-6 ms, p90 2.5-9 ms,
    # the mean of the slowest 5 % 4-14 ms); p99 stays a named metric.
    # It is the median of the p75s of the rung's one-second slices, so a
    # host slowdown over a few seconds of the rung does not carry it (one
    # such run read 4.4 ms against ~2 ms, spreading ten seeds by 0.33)
    slices: dict[int, list[float]] = {}
    t_ref = min(r["due"] for r in per_rate[ref])
    for r in per_rate[ref]:
        slices.setdefault(int(r["due"] - t_ref), []).append(ms(r["done"] - r["due"]))
    slice_p75 = [pct(v, 75) for v in slices.values() if len(v) >= ref / 2]
    sse_lag = [ms(t - acked[i][1]) for i, t in sse.frames if i in acked]
    res.e2e = {"p50_ms": median(ref_lat), "tail_ms": median(slice_p75),
               "rate_per_s": len(acked) / span, "setup_s": setup_s, **mem}
    res.named = {
        "produce_p50_ms": (median(lat[rates[1]]), "ms"),
        "produce_p99_ms": (pct(lat[rates[1]], 99), "ms"),
        "produce_max_rps": (max(passing) if passing else 0.0, "req/s"),
        "sse_lag_p50_ms": (median(sse_lag), "ms"),
    }
    for rate in rates:
        res.named[f"produce_p50_ms_at_{rate}"] = (median(lat[rate]), "ms")
        res.named[f"produce_p99_ms_at_{rate}"] = (pct(lat[rate], 99), "ms")
        res.named[f"samples_at_{rate}"] = (len(lat[rate]), "count")
    check_poll_phase(res, pp, stored_sets.get(topic_dirname(BACKLOG), set()))
    lateness(res, gen.late + pp["late"])
    if ctx.trace:
        spans = load_spans(os.path.join(ctx.run_dir, "gateway-spans.jsonl"))
        gateway_layers(res, [s for s in spans if s["start"] < pp["start"]], sent)
        poll_layers(res, [s for s in spans if s["start"] >= pp["start"]])
        res.layers["store.files_end"] = count_files(topics_dir) - count_files(
            os.path.join(topics_dir, topic_dirname(BACKLOG)))
        res.layers["loadgen.conns"] = conns + 1
        res.layers["loadgen.threads"] = 1
    return res


# -- webhook_fanout ------------------------------------------------------------


class Receiver:
    """Webhook endpoint: one asyncio loop on its own thread, any number of
    keep-alive connections. Records the first receipt of every (message,
    webhook) pair; ``/reply/*`` webhooks answer with a TopicFn header and a
    body, which the delivery sink appends to the reply table."""

    def __init__(self):
        self.drop = 0  # fault injection: this many /ack/ deliveries go uncounted
        self.first: dict[tuple[str, str], float] = {}
        self.stamp: dict[str, float] = {}
        self.msg_ids: dict[tuple[str, str], str] = {}
        self.replies: dict[str, bytes] = {}
        self.deliveries = self.accepts = self.no_header = 0

    def start(self) -> int:
        self.loop = asyncio.new_event_loop()
        self.thread = threading.Thread(target=self.loop.run_forever, name="receiver",
                                       daemon=True)
        self.thread.start()
        self.server = asyncio.run_coroutine_threadsafe(
            asyncio.start_server(self._conn, "127.0.0.1", 0), self.loop).result(10)
        return self.server.sockets[0].getsockname()[1]

    def stop(self) -> None:
        self.loop.call_soon_threadsafe(self.server.close)
        self.loop.call_soon_threadsafe(self.loop.stop)
        self.thread.join(timeout=10)
        self.loop.close()

    async def _conn(self, reader, writer) -> None:
        self.accepts += 1
        try:
            while True:
                _, h = await read_head(reader)
                n = int(h.get("content-length", "0"))
                body = await reader.readexactly(n) if n else b""
                now = time.perf_counter()
                path = h["_line"].split(" ")[1]
                reply = self._record(path, h, body, now)
                head = "HTTP/1.1 200 OK\r\n"
                if reply:
                    head += f"TopicFn: {topic_fn('replies')}\r\nPulsarUrl: {PULSAR_URL}\r\n"
                close = h.get("connection", "").lower() == "close"
                head += f"Content-Length: {len(reply)}\r\n"
                head += "Connection: close\r\n\r\n" if close else "\r\n"
                writer.write(head.encode() + reply)
                await writer.drain()
                if close:
                    break
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            writer.close()

    def _record(self, path: str, h: dict, body: bytes, now: float) -> bytes:
        doc = json.loads(body)
        ident = doc["id"]
        self.deliveries += 1
        if path.startswith("/ack/") and self.drop > 0:
            self.drop -= 1
            return b""
        mid = h.get("pulsarmessageid")
        if not mid:
            self.no_header += 1
        key = (ident, path)
        if key not in self.first:
            self.first[key] = now
            self.msg_ids[key] = mid
            self.stamp[ident] = doc["t"]
        if path.startswith("/reply/"):
            self.replies[ident] = f"reply:{ident}".encode()
            return self.replies[ident]
        return b""


def read_replies(reply_dir: str) -> dict[str, bytes]:
    """Reply-table rows deduplicated on their deterministic reply id."""
    import pyarrow.parquet as pq

    if not os.path.isdir(reply_dir):
        return {}
    files = [os.path.join(reply_dir, f) for f in os.listdir(reply_dir)
             if f.endswith(".parquet")]
    out: dict[str, bytes] = {}
    for f in files:
        t = pq.read_table(f, columns=["message_id", "payload"])
        out.update(zip(t.column("message_id").to_pylist(), t.column("payload").to_pylist()))
    return out


def fanout(ctx: Ctx) -> Result:
    res = Result()
    rates = [10, 20, 40] if ctx.tiny else [100, 200, 400]
    ref, n_topics, p99_limit_s = rates[1], 4, 10.0
    topics_dir = os.path.join(ctx.run_dir, "topics")
    work = os.path.join(ctx.run_dir, "delivery")
    os.makedirs(work)
    sampler = common.RssSampler().start()
    recv = Receiver()
    loop = asyncio.new_event_loop()
    gw = dproc = None
    window = (0.0, math.inf)
    acked: dict[str, int] = {}
    per_rate: dict[int, list[dict]] = {}
    backlog: list[tuple[float, float]] = []
    try:
        t_setup = time.perf_counter()
        rport = recv.start()
        pub, token = make_keys(ctx.run_dir)
        auth = {"Authorization": f"Bearer {token}", "Content-Type": "application/json"}
        gw, port = gateway(ctx, topics_dir, pub,
                           ["--config-dir", os.path.join(ctx.run_dir, "configs")])
        sampler.pids.append(gw.pid)

        async def register():
            conn = HttpConn("127.0.0.1", port)
            out = []
            for k in range(n_topics):
                doc = {"TopicFullName": topic_fn(k), "PulsarUrl": PULSAR_URL, "Webhooks": [
                    {"URL": f"http://127.0.0.1:{rport}/ack/{k}", "Subscription": f"ack-{k}"},
                    {"URL": f"http://127.0.0.1:{rport}/reply/{k}", "Subscription": f"reply-{k}"}]}
                out.append((await conn.request("POST", "/v2/topic", auth,
                                               json.dumps(doc).encode()))[0])
            conn.close()
            return out

        statuses = loop.run_until_complete(register())
        res.attempted += len(statuses)
        res.fail(sum(1 for s in statuses if s != 201), "topic registrations not 201")
        argv = [sys.executable, "-m", "perfbench.delivery_main", "--topics-dir", topics_dir,
                "--config-dir", os.path.join(ctx.run_dir, "configs"), "--work-dir", work]
        dproc = Proc(argv + (["--trace"] if ctx.trace else []), common.child_env(ctx.run_dir),
                     ctx.run_dir, os.path.join(ctx.run_dir, "delivery.log"))
        sampler.pids.append(dproc.pid)
        _wait(lambda: os.path.exists(os.path.join(work, "ready")), 120, dproc, "delivery start")

        def send(rate):
            def make(i, due):
                k = i % n_topics
                ident = f"r{rate}-{i}"
                return ("POST", f"/v2/firehose/persistent/{TENANT}/ns/t{k}?mode=async",
                        {**auth, "X-Request-Id": ident}, payload(ident, ctx.rng, due),
                        {"rid": ident, "topic": k})
            return make

        def done(rec, _data):
            if rec["status"] == 200:
                acked[rec["rid"]] = rec["topic"]

        def delivered_pairs():
            return len(recv.first)

        # warm-up: one message per topic end to end (worker pool, broadcast)
        loop.run_until_complete(OpenLoop("127.0.0.1", port, 1).run(
            50, n_topics / 50, send("warm"), done))
        _wait(lambda: delivered_pairs() >= 2 * len(acked), 120, dproc, "warm-up delivery")
        t_run = time.perf_counter()
        setup_s = t_run - t_setup
        recv.drop = ctx.drop_delivery

        gen = OpenLoop("127.0.0.1", port, 2)

        async def sample_backlog(stop):
            while not stop.is_set():
                backlog.append((time.perf_counter(), 2 * len(acked) - delivered_pairs()))
                try:
                    await asyncio.wait_for(stop.wait(), 1.0)
                except asyncio.TimeoutError:
                    pass

        async def measure():
            stop = asyncio.Event()
            task = asyncio.ensure_future(sample_backlog(stop))
            for rate in rates:
                per_rate[rate] = await gen.run(rate, ctx.seconds / len(rates), send(rate), done)
            # drain: until every pair arrived, or nothing new arrived for
            # 15 s (epochs take ~3 s), or 60 s passed
            deadline = time.perf_counter() + 60
            last, idle_since = -1, time.perf_counter()
            while delivered_pairs() < 2 * len(acked) and time.perf_counter() < deadline:
                if delivered_pairs() != last:
                    last, idle_since = delivered_pairs(), time.perf_counter()
                elif time.perf_counter() - idle_since > 15:
                    break
                await asyncio.sleep(0.2)
            stop.set()
            await task

        loop.run_until_complete(measure())
        window = (t_run, time.perf_counter())
        with open(os.path.join(work, "stop"), "w"):
            pass
        dproc.p.wait(timeout=90)
    finally:
        loop.close()
        for p in (dproc, gw):
            if p is not None:
                p.stop()
        recv.stop()
        mem = sampler.stop(*window)

    # correctness: every (message x webhook) pair arrived with a message id
    pairs = [(i, f"/{kind}/{k}") for i, k in acked.items() for kind in ("ack", "reply")]
    missing = [p for p in pairs if p not in recv.first]
    sent = [r for rate in rates for r in per_rate[rate]]
    res.attempted += len(sent) + len(pairs)
    res.fail(sum(1 for r in sent if r["status"] != 200), "firehose POSTs not 200")
    res.fail(len(missing), f"{len(missing)} (message x webhook) deliveries missing")
    res.fail(recv.no_header, "deliveries without a PulsarMessageId header")
    both = [(recv.msg_ids.get((i, f"/ack/{k}")), recv.msg_ids.get((i, f"/reply/{k}")))
            for i, k in acked.items()]
    split = sum(1 for a, b in both if a and b and a != b)
    res.fail(split, "webhooks of one message saw different PulsarMessageIds")
    stored = set(read_replies(os.path.join(work, "replies")).values())
    want = set(recv.replies.values())
    res.attempted += len(want)
    res.fail(len(want ^ stored), "reply-table rows differ from the replies sent")

    lat = {}
    for rate in rates:
        ids = {r["rid"] for r in per_rate[rate]}
        lat[rate] = [t - recv.stamp[i] for (i, _p), t in recv.first.items() if i in ids]
    passing = []
    for rate in rates:
        t_lo = min(r["due"] for r in per_rate[rate])
        t_hi = max(r["due"] for r in per_rate[rate])
        # growing: more than the latency limit's worth of deliveries
        # outstanding when the window ends
        end = [b for t, b in backlog if t <= t_hi + 1.0]
        growing = bool(end) and end[-1] > 2 * rate * p99_limit_s
        if pct(lat[rate], 99) <= p99_limit_s and not growing and len(lat[rate]) == 2 * len(per_rate[rate]):
            passing.append(rate)
    ref_lat = lat[ref]
    # end-to-end latency pools the whole ladder: delivery latency is set by
    # the micro-batch cadence (~3 s epochs), so one rate's window holds
    # about one epoch and its percentiles depend on where the window
    # happens to fall against the epoch boundaries
    all_lat = [v for rate in rates for v in lat[rate]]
    q = tail_q(len(all_lat), 99)
    ids = {r["rid"] for r in sent}
    span = max(t for (i, _p), t in recv.first.items() if i in ids) - min(r["due"] for r in sent)
    res.e2e = {"p50_ms": ms(median(all_lat)), "tail_ms": ms(pct(all_lat, q)),
               "rate_per_s": len(ids) / span, "setup_s": setup_s, **mem}
    res.named = {"delivery_p50_s": (median(ref_lat), "s"),
                 "delivery_p99_s": (pct(ref_lat, 99), "s"),
                 "delivery_max_mps": (max(passing) if passing else 0.0, "msg/s"),
                 "deliveries_at_reference_rate": (len(ref_lat), "count")}
    for rate in rates:
        res.named[f"delivery_p99_s_at_{rate}"] = (pct(lat[rate], 99), "s")
    lateness(res, gen.late)
    L = res.layers
    L["delivery.conns_per_delivery"] = recv.accepts / max(1, recv.deliveries)
    L["delivery.duplicate_ratio"] = (recv.deliveries - len(recv.first)) / max(1, len(recv.first))
    L["delivery.backlog_max"] = max((b for _, b in backlog), default=0)
    if ctx.trace:
        delivery_layers(res, work)
        spans = load_spans(os.path.join(ctx.run_dir, "gateway-spans.jsonl"))
        gateway_layers(res, spans, sent)
        res.layers["loadgen.conns"] = 2
        res.layers["loadgen.threads"] = 2
    return res


def _wait(cond, timeout: float, proc: Proc, what: str) -> None:
    deadline = time.perf_counter() + timeout
    while not cond():
        if not proc.alive():
            raise RuntimeError(f"{what}: process exited with {proc.p.returncode}")
        if time.perf_counter() > deadline:
            raise RuntimeError(f"{what}: timed out after {timeout:.0f} s")
        time.sleep(0.1)


def delivery_layers(res: Result, work: str) -> None:
    with open(os.path.join(work, "delivery.json")) as f:
        d = json.load(f)
    epochs = [e for e in d["epochs"].values() if e["rows"]]
    L = res.layers
    L["delivery.epochs"] = len(epochs)
    L["delivery.rows_per_epoch_p50"] = median([e["rows"] for e in epochs])
    for key, name in (("triggerExecution", "trigger_ms_p50"), ("addBatch", "add_batch_ms_p50"),
                      ("latestOffset", "latest_offset_ms_p50")):
        L[f"delivery.{name}"] = median([e["durations"].get(key, 0) for e in epochs])
    L["delivery.spark_jobs_per_epoch"] = d["jobs"] / max(1, len(d["epochs"]))
    push = []
    sdir = os.path.join(work, "spans")
    for f in os.listdir(sdir) if os.path.isdir(sdir) else ():
        push += [ms(s["end"] - s["start"]) for s in load_spans(os.path.join(sdir, f))]
    L["delivery.push_ms_p50"] = median(push)
    L["session.start_s"] = d["session_s"]


# -- batch_analytics -----------------------------------------------------------


def batch_analytics(ctx: Ctx) -> Result:
    from perfbench import datagen

    res = Result()
    names = TINY_ENTRIES if ctx.tiny else ENTRIES
    data = os.path.join(ctx.run_dir, "data")
    work = os.path.join(ctx.run_dir, "queries")
    os.makedirs(work)
    sampler = common.RssSampler().start()
    t_setup = time.perf_counter()
    datagen.generate(data, ctx.seed, sf=0.01 if ctx.tiny else 0.1)
    datagen_s = time.perf_counter() - t_setup
    argv = [sys.executable, "-m", "perfbench.query_main", "--data-dir", data,
            "--work-dir", work, "--seconds", str(ctx.seconds), "--entries", ",".join(names)]
    proc = Proc(argv + (["--trace"] if ctx.trace else []), common.child_env(ctx.run_dir),
                work, os.path.join(ctx.run_dir, "queries.log"))
    sampler.pids.append(proc.pid)
    try:
        proc.p.wait(timeout=170)
    finally:
        proc.stop()
        sampler.stop()
    out_path = os.path.join(work, "queries.json")
    if not os.path.exists(out_path):
        with open(os.path.join(ctx.run_dir, "queries.log"), "rb") as f:
            tail = f.read()[-2000:].decode(errors="replace")
        raise RuntimeError(f"query process failed:\n{tail}")
    with open(out_path) as f:
        d = json.load(f)
    mem = sampler.stop(d["timed_from"], d["timed_to"])

    res.attempted = len(names)
    for name, errs in d["mismatches"].items():
        res.fail(1, f"{name} differs from its DuckDB oracle: {errs}")
    per = {n: median([s["build_s"] + s["exec_s"] for s in d["samples"][n]]) for n in names}
    total = sum(per.values())
    res.e2e = {"p50_ms": ms(geomean(per.values())), "tail_ms": ms(max(per.values())),
               "rate_per_s": len(names) / total, "setup_s": datagen_s + d["setup_s"], **mem}
    res.named = {"query_total_s": (total, "s"), "query_geomean_s": (geomean(per.values()), "s"),
                 "passes": (d["passes"], "count")}
    for n in names:
        res.named[f"{n}_s"] = (per[n], "s")
    if ctx.trace:
        L = res.layers
        for n in names:
            ss = d["samples"][n]
            L[f"query.{n}.build_s"] = median([s["build_s"] for s in ss])
            L[f"query.{n}.exec_s"] = median([s["exec_s"] for s in ss])
            L[f"query.{n}.jobs"] = median([s["jobs"] for s in ss])
            L[f"query.{n}.tasks"] = median([s["tasks"] for s in ss])
            L[f"query.{n}.shuffle_exchanges"] = d["shuffle_exchanges"].get(n, 0)
        L["session.start_s"] = d["session_s"]
        L["artifacts.build_s"] = d["artifacts_s"]
        L["loadgen.threads"] = 1
    return res


WORKLOADS = {"gateway_ingest": ingest, "webhook_fanout": fanout,
             "batch_analytics": batch_analytics}
