"""The benchmark of record: one command per workload run.

    python3 perfbench/run.py --workload gateway_ingest --seed 1 --seconds 10 --trace 0

Runs the workload against the system as users reach it (gateway process,
Spark delivery process, registry entries), checks every output, prints
the workload's named metrics as ``# name = value unit`` lines, and prints
one JSON object as the LAST line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
traced variant and reports the per-layer metrics (BENCHMARK.json names
both sets). Exits 1 on any correctness or validity failure and 2 when the
repository is not next to the benchmark."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _collect_spans(run_dir: str, dest: str) -> int:
    """Concatenate every span file the traced processes wrote."""
    n = 0
    with open(dest, "w") as out:
        for d, _, files in os.walk(run_dir):
            for f in sorted(files):
                if f.endswith(".jsonl"):
                    with open(os.path.join(d, f)) as src:
                        for line in src:
                            out.write(line)
                            n += 1
    return n


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small rates and inputs (self-test only)")
    ap.add_argument("--drop-delivery", type=int, default=0,
                    help="receiver silently drops this many deliveries (self-test only)")
    args = ap.parse_args(argv)
    # a terminated run still stops its gateway / Spark processes (finally
    # blocks run on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "pulsar_beam_spark", "__init__.py")):
        print("perfbench: the pulsar_beam_spark package is not next to the benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    ctx = workloads.Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                        tiny=args.tiny, drop_delivery=args.drop_delivery, run_dir=run_dir)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            res.layers["trace.spans"] = _collect_spans(
                run_dir, os.path.join(out_dir, f"spans-{args.workload}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    last = os.path.join(out_dir, f"untraced-{args.workload}.json")
    if args.trace:
        # tracing overhead: traced minus untraced median of the headline
        # latency, against the latest untraced run of this workload
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)["p50_ms"]
            res.layers["trace.overhead_ratio"] = res.e2e["p50_ms"] / base - 1.0
            res.named["trace_overhead_ratio"] = (res.layers["trace.overhead_ratio"], "ratio")
        res.named.update({k: (v, "") for k, v in sorted(res.layers.items())
                          if k not in res.named})
    elif not res.errors:
        with open(last, "w") as f:
            json.dump(res.e2e, f)

    res.named["peak_rss_mb"] = (res.e2e.pop("peak_rss_mb"), "MB")
    res.named["error_ratio"] = (res.failed / max(1, res.attempted), "ratio")
    for name, (value, unit) in res.named.items():
        print(f"# {name} = {value:.6g} {unit}")
    for msg in res.errors:
        print(f"# FAILED: {msg}")
    for msg in res.invalid:
        print(f"# INVALID: {msg}")

    if args.trace:
        # per-layer metrics plus the workload's named metrics; a layer the
        # workload does not exercise reads 0
        values = {**{k: v for k, (v, _) in res.named.items()}, **res.layers}
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res.e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    ok = not res.errors and not res.invalid
    print(json.dumps({"correct": ok, "attempted": int(res.attempted),
                      "failed": int(res.failed), "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
