"""Self-test of the benchmark command, in its tiny mode.

    python -m pytest perfbench/tests -q

Checks that every workload prints every end-to-end metric with its unit,
that the traced mode prints every per-layer metric, that a webhook
receiver which drops one delivery fails the run, and that the command
refuses to run without the repository next to it."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join(ROOT, "perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, *extra: str, cwd: str = ROOT, timeout: int = 240):
    p = subprocess.run(
        [sys.executable, RUN if cwd == ROOT else "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "3", "--tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p.returncode, last, p


def check_metrics(last: str, kind: str) -> dict:
    out = json.loads(last)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert set(out["metrics"]) == set(want)
    for name, m in out["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], float)
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_printed(workload):
    code, last, p = bench(workload, "--trace", "0")
    assert code == 0, p.stdout[-2000:] + p.stderr[-2000:]
    out = check_metrics(last, "end_to_end")
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert all(m["value"] > 0 for m in out["metrics"].values())
    assert "# error_ratio = 0 ratio" in p.stdout


def test_traced_run_prints_every_per_layer_metric():
    code, last, p = bench("gateway_ingest", "--trace", "1")
    assert code == 0, p.stdout[-2000:] + p.stderr[-2000:]
    out = check_metrics(last, "per_layer")
    assert out["metrics"]["gateway.requests"]["value"] > 0
    assert out["metrics"]["trace.spans"]["value"] > 0
    # the backlog poll phase is traced too
    assert out["metrics"]["store.poll_files_listed"]["value"] > 0
    assert out["metrics"]["poll_p50_ms"]["value"] > 0


def test_dropped_delivery_fails_the_run():
    code, last, p = bench("webhook_fanout", "--trace", "0", "--drop-delivery", "1")
    assert code != 0
    out = json.loads(last)
    assert out["correct"] is False and out["failed"] >= 1
    ratio = [ln for ln in p.stdout.splitlines() if ln.startswith("# error_ratio = ")]
    assert ratio and float(ratio[0].split()[3]) > 0


def test_refuses_to_run_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, last, _ = bench("gateway_ingest", "--trace", "0", cwd=str(tmp_path), timeout=60)
    assert code != 0
    assert not last.startswith("{")
