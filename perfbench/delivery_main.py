"""Webhook delivery process for the webhook_fanout workload.

    python -m perfbench.delivery_main --topics-dir D --config-dir C \
        --work-dir W [--trace]

Runs the repo's multiplexed delivery exactly as a deployment would:
``deliver_multiplexed_stream(stream, desired_deliveries(snapshot_df(spark,
FileConfigStore(C))))`` over a file stream of every topic directory the
gateway writes. Writes ``W/ready`` once the query runs and stops when
``W/stop`` appears; with ``--trace`` it also writes ``W/delivery.json``
(per-epoch progress and Spark job counts) and a per-worker-pid span file
of ``WebhookSink.push`` calls under ``W/spans``."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


class TracingSinkFactory:
    """sink_factory that times every ``WebhookSink.push`` on the executor
    and appends the spans to ``<spans_dir>/push-<pid>.jsonl``."""

    def __init__(self, spans_dir: str):
        self.spans_dir = spans_dir

    def __call__(self, cfg: dict):
        from pulsar_beam_spark.streaming.delivery import WebhookSink

        sink = WebhookSink(cfg["url"], headers=list(cfg.get("headers") or []))
        push = sink.push
        path = os.path.join(self.spans_dir, f"push-{os.getpid()}.jsonl")

        def traced_push(row):
            t0 = time.perf_counter()
            try:
                return push(row)
            finally:
                t1 = time.perf_counter()
                with open(path, "a") as f:
                    f.write(json.dumps({"name": "delivery.push", "start": t0, "end": t1,
                                        "rid": str(row.get("message_id")),
                                        "sub": cfg["sub_key"][-12:]}) + "\n")

        sink.push = traced_push
        return sink


def _progress(q, seen: dict) -> None:
    for p in q.recentProgress:
        seen[p["batchId"]] = {
            "rows": p.get("numInputRows", 0),
            "durations": p.get("durationMs", {}),
        }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--topics-dir", required=True)
    ap.add_argument("--config-dir", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from pulsar_beam_spark.model.config_store import FileConfigStore, snapshot_df
    from pulsar_beam_spark.model.message import MESSAGE_SCHEMA
    from pulsar_beam_spark.session import get_spark
    from pulsar_beam_spark.streaming.delivery import deliver_multiplexed_stream
    from pulsar_beam_spark.streaming.reconciler import desired_deliveries

    w = args.work_dir
    t0 = time.perf_counter()
    spark = get_spark("perfbench-delivery")
    session_s = time.perf_counter() - t0
    configs = desired_deliveries(snapshot_df(spark, FileConfigStore(args.config_dir)))
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(
        os.path.join(args.topics_dir, "*", "*.parquet"))
    factory = None
    if args.trace:
        os.makedirs(os.path.join(w, "spans"), exist_ok=True)
        factory = TracingSinkFactory(os.path.join(w, "spans"))
    q = deliver_multiplexed_stream(
        stream, configs, os.path.join(w, "ckpt"), sink_factory=factory,
        reply_table_dir=os.path.join(w, "replies"))
    with open(os.path.join(w, "ready"), "w") as f:
        f.write(str(session_s))

    seen: dict = {}
    stop = os.path.join(w, "stop")
    while not os.path.exists(stop):
        if q.exception() is not None:
            print(q.exception(), file=sys.stderr)
            return 1
        if args.trace:
            _progress(q, seen)
        time.sleep(0.5)
    # let an in-flight epoch finish so its deliveries are counted
    q.processAllAvailable()
    if args.trace:
        _progress(q, seen)
        tracker = spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(str(q.runId))
        with open(os.path.join(w, "delivery.json"), "w") as f:
            json.dump({"session_s": session_s, "epochs": seen, "jobs": len(jobs)}, f)
    q.stop()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
