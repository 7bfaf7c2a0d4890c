"""Traced gateway launcher.

    python -m perfbench.gateway_main --spans SPANS.jsonl -- <gateway args>

Wraps the gateway's request dispatch, JWT verification, message-store and
config-store calls with span recorders, then runs the stock
``pulsar_beam_spark.server`` entry point unchanged. Spans are written to
``--spans`` when the server exits (SIGTERM or SIGINT)."""

from __future__ import annotations

import argparse
import signal
import sys

from perfbench.tracer import Tracer


def install(tracer: Tracer) -> None:
    from pulsar_beam_spark.icrypto import RSAKeyPair
    from pulsar_beam_spark.model.config_store import FileConfigStore
    from pulsar_beam_spark.server import gateway, store

    tracer.wrap(gateway.GatewayApp, "dispatch", "gateway.dispatch",
                rid_fn=lambda a, k: a[4].get("X-Request-Id"),
                attrs_fn=lambda a, k, r: {"status": r.status if r is not None else 599})
    tracer.wrap(RSAKeyPair, "get_token_subject", "icrypto.verify")
    tracer.wrap(store.TopicDirStore, "append", "store.append")
    tracer.wrap(store.TopicDirStore, "_flush_locked", "store.flush",
                pre_attrs_fn=lambda a, k: {"rows": len(a[0]._pending)})
    tracer.wrap(store.TopicDirStore, "poll", "store.poll")
    tracer.wrap(store.TopicDirStore, "scan", "store.scan",
                attrs_fn=lambda a, k, r: {"rows": len(r[0]) if r else 0})
    # per-file work inside poll/scan: footer reads (one per listed file
    # in poll) and full row reads
    tracer.wrap(store.TopicDirStore, "_footer_bounds", "store.footer")
    tracer.wrap(store, "_read_rows", "store.read_rows")
    tracer.wrap(FileConfigStore, "update", "config.update")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spans", required=True)
    ap.add_argument("rest", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    rest = args.rest[1:] if args.rest[:1] == ["--"] else args.rest
    # stop on SIGTERM (or SIGINT, even when inherited as ignored) through
    # the server's KeyboardInterrupt path, so the spans below get written
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    signal.signal(signal.SIGINT, signal.default_int_handler)
    tracer = Tracer()
    install(tracer)
    from pulsar_beam_spark.server.__main__ import main as server_main

    try:
        return server_main(rest)
    finally:
        tracer.dump(args.spans)


if __name__ == "__main__":
    sys.exit(main())
