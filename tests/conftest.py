from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from pulsar_beam_spark.session import get_spark

    s = get_spark("pbs-tests", shuffle_partitions=8)
    yield s
    s.stop()


ROUTE_SCHEMA = "sub_key string, topic_full_name string, url string, headers array<string>"


def routes(spark, rows):
    """The static config frame ``deliver_multiplexed_stream`` joins on:
    one row per (topic x webhook) from dicts carrying sub_key,
    topic_full_name, url and headers (``desired_deliveries`` rows, or the
    rows a ``Reconciler`` hands its ``start_fn``)."""
    return spark.createDataFrame(
        [(r["sub_key"], r["topic_full_name"], r["url"], list(r.get("headers") or []))
         for r in rows],
        ROUTE_SCHEMA,
    )


def topic_routes(spark, topics, url, headers=()):
    """One config per topic, every one posting to ``url``: routes every
    row of a stream over ``topics`` to the same endpoint."""
    return routes(spark, [
        {"sub_key": t + url, "topic_full_name": t, "url": url, "headers": list(headers)}
        for t in sorted(set(topics))
    ])


class FakeQuery:
    """StreamingQuery stand-in for reconciler tests: keeps what it was
    started with and records ``stop()``."""

    def __init__(self, rows=None, checkpoint_dir=None):
        self.rows = rows
        self.checkpoint_dir = checkpoint_dir
        self.stopped = False

    @property
    def isActive(self):
        return not self.stopped

    def stop(self):
        self.stopped = True
