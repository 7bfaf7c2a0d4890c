"""Reconciler control-plane scale (VERDICT r08 item 7): tick latency at
10k webhook configs.

`Reconciler.reconcile` collects the desired set per tick
(reconciler.py) — fine at the hundreds the gateway goldens cover, but
unmeasured at fleet scale until now. This pins: (a) every per-tick
structure is linear (one collect + set diffs — no pairwise scan), (b) a
steady-state tick at 10k configs completes inside a generous wall bound
on this host, and (c) coverage deltas at that scale are reported
exactly (add/remove 10 configs out of 10k).

The bound is deliberately loose (tens of seconds for a driver-side
collect of 10k exploded rows vs the reference's PbDbInterval of 180 s,
webhook.go:247) — it exists to catch an accidental quadratic tick, not
to benchmark the host.
"""

from __future__ import annotations

import time
from datetime import datetime

from pulsar_beam_spark.model.message import TOPIC_CONFIG_SCHEMA
from pulsar_beam_spark.streaming.reconciler import Reconciler

from .conftest import FakeQuery

N_CONFIGS = 10_000
TICK_BOUND_S = 30.0
T0 = datetime(2024, 1, 1)


def _snapshot(spark, n, drop_prefix: int = 0):
    rows = [
        (
            f"key-{i:05d}", f"persistent://t{i % 7}/ns/topic{i}",
            "pulsar://c:6650", "", "", None, 1,
            [(f"http://ep{i}.example.com/cb", [], f"sub-{i}", "exclusive",
              "latest", 1, T0, T0, None)],
            T0, T0, i,
        )
        for i in range(drop_prefix, n)
    ]
    return spark.createDataFrame(rows, TOPIC_CONFIG_SCHEMA)


def test_reconciler_tick_latency_at_10k_configs(spark, tmp_path):
    started = []

    def start_fn(rows, ckpt):
        started.append(len(rows))
        return FakeQuery()

    rec = Reconciler(spark, str(tmp_path / "ckpts"), start_fn)

    snap = _snapshot(spark, N_CONFIGS).localCheckpoint()

    t0 = time.perf_counter()
    s1, t1 = rec.reconcile(snap)
    first_tick = time.perf_counter() - t0
    assert len(s1) == N_CONFIGS and not t1
    assert started == [N_CONFIGS], "one query serves the fleet"

    # steady state: the tick is a collect + row compare, no restarts
    t0 = time.perf_counter()
    s2, t2 = rec.reconcile(snap)
    steady_tick = time.perf_counter() - t0
    assert not s2 and not t2
    assert started == [N_CONFIGS], "steady tick must not restart the query"
    assert steady_tick < TICK_BOUND_S, (
        f"steady-state tick took {steady_tick:.1f}s at {N_CONFIGS} configs "
        "— a linear tick on this host is seconds; investigate for a "
        "quadratic structure in reconcile()"
    )

    # coverage delta at scale: drop the first 10 configs
    snap2 = _snapshot(spark, N_CONFIGS, drop_prefix=10).localCheckpoint()
    t0 = time.perf_counter()
    s3, t3 = rec.reconcile(snap2)
    delta_tick = time.perf_counter() - t0
    assert not s3 and len(t3) == 10
    assert started == [N_CONFIGS, N_CONFIGS - 10], "set change restarts the query once"
    assert delta_tick < TICK_BOUND_S

    print(
        f"\nreconciler@{N_CONFIGS}: first={first_tick:.2f}s "
        f"steady={steady_tick:.2f}s delta={delta_tick:.2f}s"
    )


def test_version_gated_tick_skips_collect(spark, tmp_path):
    """VERDICT r09 item 4: with the changelog version supplied and
    unchanged, the steady tick must be a pure in-memory no-op — no
    Spark job, no desired-set collect — so tick cost is O(1) at any
    fleet size. A version bump (or version=None) forces the full diff."""
    calls = []

    def start_fn(rows, ckpt):
        calls.append(len(rows))
        return FakeQuery()

    rec = Reconciler(spark, str(tmp_path / "ckpts"), start_fn)
    snap = _snapshot(spark, 5).localCheckpoint()

    s1, _ = rec.reconcile(snap, version=7)
    assert len(s1) == 5 and calls == [5]

    # unchanged version: no-op without touching Spark — poison the
    # snapshot reference to PROVE the fast path never evaluates it
    class _Poison:
        def __getattr__(self, name):
            raise AssertionError("version-gated tick must not touch the snapshot")

    t0 = time.perf_counter()
    for _ in range(100):
        assert rec.reconcile(_Poison(), version=7) == ([], [])
    assert time.perf_counter() - t0 < 0.1, "gated ticks must be microseconds"

    # version moved: full diff runs again (one config dropped)
    snap2 = _snapshot(spark, 5, drop_prefix=1).localCheckpoint()
    s2, t2 = rec.reconcile(snap2, version=8)
    assert not s2 and len(t2) == 1

    # version=None always forces the full path (dead-query healing hook)
    s3, t3 = rec.reconcile(snap2, version=None)
    assert not s3 and not t3

    # ADVICE r10: the healing idiom is force=True WITH the version — the
    # full diff runs, the version is recorded, and the very next gated
    # tick is a no-op again (version=None healing left _last_version as
    # None, so every post-healing tick paid a second full collect)
    sf, tf = rec.reconcile(snap2, version=8, force=True)
    assert not sf and not tf
    assert rec.reconcile(_Poison(), version=8) == ([], []), (
        "gating must resume immediately after a forced healing tick")

    # an exception mid-tick invalidates the gate: the NEXT gated tick
    # must rerun the repair rather than skip it
    def boom(rows, ckpt):
        raise RuntimeError("start failed")

    rec2 = Reconciler(spark, str(tmp_path / "ckpts2"), boom)
    try:
        rec2.reconcile(snap, version=3)
    except RuntimeError:
        pass
    rec2.start_fn = start_fn
    s4, _ = rec2.reconcile(snap, version=3)
    assert len(s4) == 5, "post-failure gated tick must repair, not skip"


import os

import pytest


@pytest.mark.skipif(
    os.environ.get("PBS_RECONCILER_100K") != "1",
    reason="~1 min 100k-config control-plane measurement; set PBS_RECONCILER_100K=1",
)
def test_reconciler_tick_latency_at_100k_configs(spark, tmp_path):
    """The 100k-fleet bound (VERDICT r09 item 4): the full-collect tick
    must stay linear and inside TICK_BOUND_S one decade above the 10k
    measurement, and the version-gated steady tick must stay O(1)."""
    n = 100_000

    rec = Reconciler(spark, str(tmp_path / "ckpts"), lambda rows, ckpt: FakeQuery())
    snap = _snapshot(spark, n).localCheckpoint()

    t0 = time.perf_counter()
    s1, _ = rec.reconcile(snap, version=1)
    first = time.perf_counter() - t0
    assert len(s1) == n

    t0 = time.perf_counter()
    assert rec.reconcile(snap, version=1) == ([], [])
    gated = time.perf_counter() - t0
    assert gated < 0.01, f"gated tick not O(1): {gated:.3f}s"

    t0 = time.perf_counter()
    assert rec.reconcile(snap, version=None) == ([], [])
    full = time.perf_counter() - t0
    assert full < TICK_BOUND_S, f"full 100k tick took {full:.1f}s"
    print(f"\nreconciler@{n}: first={first:.2f}s full={full:.2f}s gated={gated*1e6:.0f}us")
