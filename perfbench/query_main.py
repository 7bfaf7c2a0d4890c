"""Batch-analytics process for the batch_analytics workload.

    python -m perfbench.query_main --data-dir D --work-dir W --seconds S \
        --entries a,b,c [--trace]

One closed-loop client: builds the session, builds the persisted index
artifacts, runs one untimed warm-up pass that collects every entry's
result, then runs ``max(1, S // 10)`` timed passes of every entry back to
back into the noop sink, and finally checks the collected results against
each entry's DuckDB oracle outside the timed region. Results go to
``W/queries.json``."""

from __future__ import annotations

import argparse
import os
import sys
import time


def _root_artifacts(queries, art_root: str) -> None:
    """Keep the registry's build-once artifact cache inside the run
    directory: same keying and atomic-rename build as
    ``queries._ingest_artifact_dir``, rooted at ``art_root``."""
    import hashlib
    import shutil
    import uuid

    def artifact_dir(sf: str, table: str, tag: str, build) -> str:
        src = os.path.join(sf, f"{table}.parquet")
        st = os.stat(src)
        key = hashlib.sha1(
            f"{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}:{tag}".encode()
        ).hexdigest()[:16]
        d = os.path.join(art_root, key)
        if not os.path.isdir(d):
            tmp = f"{d}.build-{uuid.uuid4().hex[:12]}"
            build(tmp)
            try:
                os.rename(tmp, d)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
        return d

    queries._ingest_artifact_dir = artifact_dir


def _job_stats(sc, group: str) -> tuple[int, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--entries", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    names = args.entries.split(",")
    sf = args.data_dir

    t0 = time.perf_counter()
    from pulsar_beam_spark.session import get_spark

    spark = get_spark("perfbench-queries")
    session_s = time.perf_counter() - t0

    from pulsar_beam_spark import queries
    from pulsar_beam_spark.plans.explain import explain_summary

    _root_artifacts(queries, os.path.join(args.work_dir, "artifacts"))
    t = time.perf_counter()
    if "t_bm25_indexed" in names:
        queries.bm25_index_dir(spark, sf)
    if "e_ivfpq_codes_topk" in names:
        queries.ivfpq_artifacts_dir(spark, sf)
    artifacts_s = time.perf_counter() - t

    def run(name: str, group: str | None = None) -> tuple[float, float, object]:
        if group:
            spark.sparkContext.setJobGroup(group, name)
        tb = time.perf_counter()
        df = queries.REGISTRY[name].spark(spark, sf)
        te = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return te - tb, time.perf_counter() - te, df

    # warm-up pass (Python worker pool, JIT, broadcast paths) that also
    # collects each entry's result for the oracle check below
    results = {name: queries.REGISTRY[name].spark(spark, sf).toPandas() for name in names}
    setup_s = time.perf_counter() - t0

    # a FIXED pass count per --seconds (one pass takes ~10 s on a 4-core
    # host): a time-driven loop would run one pass or two depending on host
    # speed, and the warmer second pass would make the medians bimodal
    passes = max(1, int(args.seconds // 10))
    samples: dict[str, list] = {n: [] for n in names}
    plans: dict[str, dict] = {}
    t_start = time.perf_counter()
    for p in range(passes):
        for name in names:
            group = f"q{p}-{name}" if args.trace else None
            b, e, df = run(name, group)
            rec = {"build_s": b, "exec_s": e}
            if args.trace:
                rec["jobs"], rec["tasks"] = _job_stats(spark.sparkContext, group)
                if name not in plans:
                    plans[name] = explain_summary(df)
            samples[name].append(rec)
    t_end = time.perf_counter()

    from tests.oracle_harness import compare, duck_run

    spark.stop()
    mismatches: dict[str, list] = {}
    for name in names:
        errs = compare(results[name], duck_run(queries.REGISTRY[name].oracle, sf))
        if errs:
            mismatches[name] = errs[:3]

    from perfbench.common import write_json

    write_json(os.path.join(args.work_dir, "queries.json"), {
        "session_s": session_s, "artifacts_s": artifacts_s, "setup_s": setup_s,
        "passes": passes, "timed_from": t_start, "timed_to": t_end, "samples": samples,
        "shuffle_exchanges": {n: p["shuffle_exchanges"] for n, p in plans.items()},
        "mismatches": mismatches,
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
