#!/usr/bin/env python
"""Benchmark harness (SURVEY.md §6/§7 M7).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes into the JVM-side noop datasource sink, so the full
plan runs (every operator, every exchange) but no row ever crosses to
Python or the driver — wall-clock measures the engine, not serde.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pulsar_beam_spark.queries import REGISTRY  # noqa: E402
from pulsar_beam_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family, weighted toward the
# shuffle/join/window/dedup paths that dominate at 100 TB.
HEADLINE = [
    "flagship_revenue_by_nation",
    "r04_inner_join",
    "r05_broadcast_join",
    "r08_range_join",
    "r10_asof_join",
    "r11_tpch_q1_agg",
    "r12_count_distinct",
    "r14_rollup",
    "r15_window_rank",
    "r17_window_frames",
    "r19_topk",
    "r29_dedup_exact_latest",
    "r30_ngram_jaccard_pairs",
    "d_minhash_lsh_near_dup",
    "d_embedding_near_dup",
    "r31_cosine_topk",
    "s_ann_ivf_topk",
    "r32_top_terms",
    "r_correlated_subquery_q17",
    "tpch_q3_shipping_priority",
    "tpch_q7_volume_shipping",
    "tpch_q10_returned_items",
    "tpch_q18_large_orders",
    "s3_tumbling_window",
    "s5_session_window",
    "r34_pandas_grouped_map",
    "pipeline_corpus_curation",
    "p_decontaminate",
    "p_span_dedup",
    "r_merge_upsert",
    "e_vector_quantize",
    "d_incremental_near_dup",
    "pipeline_curation_clustered",
    "r_skew_salted_agg",
    "r_funnel_sequence",
    "d_fuzzy_name_pairs",
    "t_unigram_logprob",
    "e_mips_topk",
    "l_zorder_layout",
    "r_ewma_smoothing",
    "e_grouped_topk",
    "r13_hll_mergeable",
    "r_partial_agg_merge",
    "r_ohlc_bars",
    # round-4 additions: one per NEW operator family
    "r_reachability",          # iterative join (transitive closure)
    "p_source_overlap_matrix", # shingle-keyed self-join, pair-bounded
    "e_cluster_inertia",       # fold-kernel codegen over vectors
    "s_rate_limit_sliding",    # double-window admission accounting
    "r_pagerank_iter3",        # iterative graph algorithm (3 joined rounds)
    # round-5 additions
    "e_silhouette_by_cell",    # map-only distance kernels + one aggregate
    "p_packing_efficiency",    # shard-window cumulative sums + audit agg
    "p_rank_calibrate",        # per-group + global percent_rank windows
    # round-6 additions
    "tpch_q11_important_stock",  # derived partsupp + scalar-total HAVING
    "tpch_q20_promo_suppliers",  # derived partsupp + decorrelated IN chain
    # round-10 additions
    "e_pq_adc_topk",             # PQ asymmetric-distance ANN (0-shuffle scan)
    "t_bm25_search",             # BM25 postings-proportional retrieval
    # round-11 additions: the ingest-persisted query paths (artifact
    # build is cached once per fixture; these rows measure QUERY time —
    # the pay-once-at-ingest story the inline rows exist to contrast)
    "e_pq_codes_topk",           # ADC over persisted tinyint codes
    "t_bm25_indexed",            # BM25 over persisted postings/dictionary
    "t_bpe_token_count",         # greedy-BPE subword accounting (codegen)
    "t_hybrid_rrf",              # BM25 + dense cosine reciprocal-rank fusion
    # round-11 late additions: fixed-point clustering family
    "e_kmeans_lloyd",            # distributed Lloyd loop (2 bounded-collect
                                 # iterations + 0-exchange assignment scan)
    "e_kmeans_centroids",        # the update arithmetic as k*dim output
                                 # (its scaling anchor is pinned in
                                 # tests/test_scaling_probe.py)
    "e_pq_trained_recall",       # oracle-replayable trained-PQ recall audit
    "e_ivf_trained_topk",        # full IVF lifecycle: train, assign, probe
    "e_ivf_cells_topk",          # IVF over persisted cells (query path only)
    "e_ivfpq_topk",              # composite IVFPQ (residual PQ per probed cell)
    # round-12 additions
    "e_ivfpq_codes_topk",        # composite IVFPQ over persisted artifacts —
                                 # the pay-once contrast to e_ivfpq_topk, the
                                 # same pairing as e_pq_codes_topk vs
                                 # e_pq_adc_topk
    # round-13 additions: BPE training (the token family's trained half)
    "t_bpe_train_merges",        # most-frequent-pair merge learning: one
                                 # corpus-rate wordcount shuffle, then 12
                                 # vocab-rate argmax iterations
    "t_bpe_train_apply",         # learned table feeding the codegen encoder
                                 # (inline train+encode — the contrast row)
    "t_bpe_learned_apply",       # encode under the PERSISTED learned table:
                                 # no training jobs in the query path
    "e_ivfpq_rerank_topk",       # the FAISS refine stage: persisted ADC
                                 # top-64 -> pushed IN filter -> exact
                                 # cosine re-rank (recovers recall 3->7+
                                 # of 10; see BASELINE.md r13)
    "e_ivfpq_batch_topk",        # batch multi-query retrieval: ONE codes
                                 # scan serves Q queries via a broadcast
                                 # (qid, cell, LUTs) table — the
                                 # retrieval-for-training read shape
    "e_ivfpq_batch_rerank_topk", # the composed production read: batch
                                 # ADC candidates + per-query exact
                                 # cosine refine
    # round-14 additions: the token pipeline end to end, benched as a
    # pair (the synthetic-table row vs the trained-artifact row — the
    # inline/persisted pairing the vector family established)
    "p_sequence_packing_bpe",    # packing under the synthetic
                                 # gen_bpe_merges table (24 fixed ranks)
    "p_packing_learned_bpe",     # packing under the TRAINED persisted
                                 # merge table: train once -> persist ->
                                 # tokenize -> pack, no training jobs in
                                 # the query path
    "pipeline_semantic_dedup",   # corpus-scale SemDeDup served by the
                                 # persisted IVFPQ index: chunked batch
                                 # ADC -> distributed exact refine ->
                                 # components -> canonical keep (pairs
                                 # with d_embedding_near_dup, the exact
                                 # cell-scan twin)
    "d_semantic_incremental_near_dup",  # steady-state semantic screen:
                                 # NEW batch quantizes + probes the
                                 # persisted corpus index; cost is
                                 # batch-proportional (the corpus is
                                 # touched only through pruned codes
                                 # cells) — pairs with
                                 # d_incremental_near_dup (MinHash twin)
    "t_quality_tree_train",      # quality-classifier TRAINING: depth-2
                                 # CART via integer histogram split-
                                 # finding, one (feat,val) shuffle per
                                 # node, 1-row collects (the
                                 # train-inline contrast row)
    "t_quality_tree_apply",      # the corpus-wide scorer: fitted tree
                                 # collapsed to a literal nested-CASE
                                 # projection — one scan, zero joins,
                                 # zero exchanges
    "t_quality_tree_learned_apply",  # the persisted twin: <=7-row
                                 # artifact collect + the same
                                 # projection scan, NO training jobs —
                                 # the inline/persisted pairing
    "e_hard_negative_mining",    # contrastive-training feed: per-anchor
                                 # top-4 band negatives mined through
                                 # the persisted index (C=64 batch ADC
                                 # + exact band refine)
    "pipeline_contrastive_triplets",  # the composed deliverable:
                                 # (anchor, positive, hard-negative)
                                 # triplets — ONE kernel read, both
                                 # legs rank the checkpointed refine
]


# Fixed-work calibration anchor (VERDICT r09 item 2): measured on the
# recording host at a settled moment (round 10), IN BENCH POSITION —
# i.e. where main() runs it, after the headline + stress benches, in a
# fully JIT-warmed JVM (a fresh session reads ~15-30% higher; two
# settled closing runs both read 0.79-0.80 in position). The bench host
# shows a documented ~2x ambient speed swing between sessions
# (BASELINE.md), which made raw round-over-round totals nearly
# meaningless; dividing the headline total by (calib_s / CALIB_REF_S)
# re-expresses it at the anchor host speed, so `value_calibrated`
# moves only when PLANS change.
CALIB_REF_S = 0.80


def bench_calibration(spark) -> float:
    """Fixed-work host-speed probe: a pure-JVM whole-stage-codegen spin
    (no IO, no Python) plus one fixed-shape shuffle. Nothing in it
    touches repo code, so its wall-clock tracks ONLY the host's current
    CPU/scheduling speed; median of 3 to shed one-off stalls."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        # codegen spin: 2.4B xxhash64 + avg, single stage (avg, not sum:
        # summing the hashes overflows long under ANSI mode)
        spark.range(2_400_000_000).select(
            F.avg(F.xxhash64("id"))
        ).write.format("noop").mode("overwrite").save()
        # one fixed shuffle: 64M rows -> 1024 keys -> sum (small-payload
        # shuffle: exercises task scheduling + exchange machinery, the
        # overhead every sf0.1 entry actually pays)
        spark.range(64_000_000).groupBy(
            (F.col("id") % 1024).alias("k")
        ).agg(F.sum("id").alias("s")).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    once()  # warm: codegen compile of the two probe plans
    return statistics.median(once() for _ in range(3))


def bench_sf1_subset(spark) -> dict[str, float] | None:
    """Per-round sf1 anchors (VERDICT r09 item 5): at sf0.1 fixed
    per-job overhead hides plan regressions that only matter at scale.
    Runs the sf1 probe's 10 anchor entries ONCE each against the cached
    weak-scaled sf1 fixture (/tmp/pbs-sf1, built on first use) so a
    plan regression at 10x data moves a recorded number every round.
    Returns None (and the bench carries on) if the fixture can't build."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import sf1_probe

        sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/pbs-sf1")
        sf1_probe.build(spark, sf1_dir)
        out: dict[str, float] = {}
        for name in sf1_probe.PROBE:
            t0 = time.perf_counter()
            REGISTRY[name].spark(spark, sf1_dir).write.format("noop").mode("overwrite").save()
            out[name] = round(time.perf_counter() - t0, 3)
        return out
    except Exception as e:  # fixture build/run failure must not kill the bench
        print(f"sf1 subset skipped: {type(e).__name__}: {e}", file=sys.stderr)
        return None


def _noop_transport(url, body, headers):
    # executor-side no-op endpoint: measures the engine's fan-out path
    # (scan -> partition -> header enrichment -> ack bookkeeping), not
    # network latency
    return 200, {}, b""


def bench_stream_fanout(spark, n: int = 50_000) -> float:
    """Webhook fan-out delivery throughput (G2/S8): n messages over 5
    topics through deliver_multiplexed_stream, one config per topic, all
    posting to one no-op endpoint; returns wall seconds."""
    import shutil
    import tempfile
    from datetime import datetime, timedelta

    from pulsar_beam_spark.model.message import MESSAGE_SCHEMA
    from pulsar_beam_spark.streaming.delivery import WebhookSink, deliver_multiplexed_stream

    d = tempfile.mkdtemp(prefix="pbs-fanout-")
    src, ckpt = os.path.join(d, "src"), os.path.join(d, "ckpt")
    t0 = datetime(2024, 1, 1)
    rows = [
        (
            f"m-{i}",
            f"persistent://t{i % 5}/ns/topic",
            None,
            b'{"v": %d}' % i,
            t0 + timedelta(seconds=i % 3600),
            t0 + timedelta(seconds=i % 3600),
            None,
        )
        for i in range(n)
    ]
    spark.createDataFrame(rows, MESSAGE_SCHEMA).repartition(8).write.parquet(src)
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(src)
    sink = WebhookSink("http://noop", transport=_noop_transport)
    configs = spark.createDataFrame(
        [(f"t{k}", f"persistent://t{k}/ns/topic", sink.url, []) for k in range(5)],
        "sub_key string, topic_full_name string, url string, headers array<string>",
    )
    t0c = time.perf_counter()
    q = deliver_multiplexed_stream(stream, configs, ckpt, sink_factory=lambda cfg: sink,
                                   query_name="bench-fanout")
    q.processAllAvailable()
    q.stop()
    dt = time.perf_counter() - t0c
    shutil.rmtree(d, ignore_errors=True)
    return dt


def bench_gateway_ingest(n: int = 10_000, clients: int = 32) -> float:
    """HTTP ingest throughput (G1 — the reference's firehose): ``n``
    POSTs from ``clients`` keep-alive connections through the full
    middleware chain (route dispatch, noauth, the 200-permit semaphore
    admission of middleware.go:17) into the async append path of
    TopicDirStore (buffered rows, timer flush — SendAsync's shape).
    Returns wall seconds; the driver records reqs/s alongside.

    This gives the reference's only quantitative claim (200 concurrent
    requests, middleware.go:14-18) a measured counterpart: the bench
    asserts every request was admitted (200) — at 32 clients the
    semaphore never rejects, it only bounds. No Spark involvement: the
    producer hot path must not pay JVM job launch, so the measurement
    deliberately excludes it too.
    """
    import http.client
    import shutil
    import tempfile
    import threading

    from pulsar_beam_spark.server import GatewayApp, TopicDirStore, make_server
    from pulsar_beam_spark.model.config_store import InMemoryConfigStore

    d = tempfile.mkdtemp(prefix="pbs-ingest-")
    store = TopicDirStore(os.path.join(d, "topics"), flush_interval_s=0.2)
    app = GatewayApp(
        config_store=InMemoryConfigStore(),
        message_store=store,
        allowed_clusters=["pulsar://bench:6650"],
        mode="hybrid",
        auth_impl="noauth",
    )
    httpd = make_server(app)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    host, port = httpd.server_address[:2]

    per = n // clients
    payload = b'{"v": 1, "pad": "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"}'
    headers = {
        "TopicFn": "persistent://bench/ns/firehose",
        "PulsarUrl": "pulsar://bench:6650",
        "Content-Type": "application/json",
    }
    errs: list[int] = []
    barrier = threading.Barrier(clients + 1)

    def client():
        conn = http.client.HTTPConnection(host, port)
        conn.connect()  # keep-alive: one connection per client, reused
        barrier.wait()
        for _ in range(per):
            conn.request("POST", "/v1/firehose?mode=async", payload, headers)
            r = conn.getresponse()
            r.read()
            if r.status != 200:
                errs.append(r.status)
        conn.close()

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    barrier.wait()
    t0 = time.perf_counter()
    for t in threads:
        t.join()
    store.flush()
    dt = time.perf_counter() - t0
    httpd.shutdown()
    assert not errs, f"ingest bench saw non-200s: {errs[:5]}"
    shutil.rmtree(d, ignore_errors=True)
    return dt


def bench_gateway_ingest_inproc(n: int = 10_000) -> float:
    """The same n requests as bench_gateway_ingest, dispatched straight
    into GatewayApp.dispatch() — the identical middleware chain (route
    regex, semaphore admission, noauth, async append) with NO sockets
    and NO http.server. The reqs/s gap between this and the HTTP number
    is the transport's cost (socket syscalls + thread scheduling under
    the GIL); if the two were close, the middleware itself would be the
    ceiling (VERDICT r09 item 8 — it is not: parsing/dispatch sustains
    far more than the socket layer)."""
    import shutil
    import tempfile

    from pulsar_beam_spark.model.config_store import InMemoryConfigStore
    from pulsar_beam_spark.server import GatewayApp, TopicDirStore

    d = tempfile.mkdtemp(prefix="pbs-inproc-")
    store = TopicDirStore(os.path.join(d, "topics"), flush_interval_s=0.2)
    app = GatewayApp(
        config_store=InMemoryConfigStore(),
        message_store=store,
        allowed_clusters=["pulsar://bench:6650"],
        mode="hybrid",
        auth_impl="noauth",
    )
    payload = b'{"v": 1, "pad": "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"}'
    headers = {
        "TopicFn": "persistent://bench/ns/firehose",
        "PulsarUrl": "pulsar://bench:6650",
        "Content-Type": "application/json",
    }
    t0 = time.perf_counter()
    for _ in range(n):
        resp = app.dispatch(
            "POST", "/v1/firehose", {"mode": ["async"]}, headers, payload)
        assert resp.status == 200, resp.status
    store.flush()
    dt = time.perf_counter() - t0
    shutil.rmtree(d, ignore_errors=True)
    return dt


def bench_skew_stress(spark, n: int = 2_000_000) -> dict[str, float]:
    """Hot-key join stress (VERDICT r03 item 7): 50% of ``n`` rows on one
    key, dim too big to broadcast (threshold forced off). Three variants:
    naive (AQE skew-join disabled — one reducer owns half the table),
    aqe (the engine default: runtime skew split), salted (the manual
    rewrite for shapes AQE can't fix). Same result rows in all three."""
    from pulsar_beam_spark.operators.skew import salted_broadcast_fallback_join, skewed_fixture
    from pulsar_beam_spark.plans.explain import execute_jvm

    big, dim = skewed_fixture(spark, n_rows=n)
    big, dim = big.localCheckpoint(), dim.localCheckpoint()  # exclude gen cost
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )}
    out: dict[str, float] = {}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")
        for label, skew_on, salted in (
            ("skew_join_naive", "false", False),
            ("skew_join_aqe", "true", False),
            ("skew_join_salted", "false", True),
        ):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_on)
            j = (salted_broadcast_fallback_join(big, dim, on="key", n_salts=16)
                 if salted else big.join(dim, "key")).select("val", "name")
            t0 = time.perf_counter()
            assert execute_jvm(j) == n
            out[label] = round(time.perf_counter() - t0, 3)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("pbs-bench")
    timings: dict[str, float] = {}

    def run(name: str) -> None:
        REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # warm the JVM + parquet footers once so timings measure the plans,
    # not first-touch session setup (the flagship touches all 5 of its
    # tables, so the first timed query starts from a warm catalog)
    run("flagship_revenue_by_nation")
    # warm the Python worker pool (mapInPandas spawns one python process
    # per core on first use — ~8 s of numpy/pandas imports that a
    # long-running cluster pays once at startup, not per query; the pool
    # is reused by every later Arrow-batched stage)
    def _noop_batches(it):
        import pandas as _pd  # noqa: F401
        yield from it
    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_noop_batches, "id long").write.format("noop").mode("overwrite").save()

    # Median-of-N per entry: this host has a documented 1.3-2x timing
    # drift band, and single-shot numbers produced phantom >2x
    # "regressions" on zero-exchange plans in rounds 3 and 4.  The
    # median of 3 runs is robust to a single slow outlier while keeping
    # total bench wall-clock bounded; the reported headline value is the
    # sum of per-query medians (plus the single-shot stress benches), so
    # it stays comparable to earlier rounds' one-pass totals.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    for name in HEADLINE:
        samples = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            run(name)
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 3)
    fanout_n = int(os.environ.get("SPARK_GRAFT_FANOUT_N", "50000"))
    fanout_s = round(bench_stream_fanout(spark, fanout_n), 3)
    timings[f"stream_fanout_{fanout_n}"] = fanout_s
    # deliberately NOT added to `timings`/`value`: the headline total is
    # compared round-over-round against BASELINE.md, and a brand-new
    # ~10 s row would read as a phantom regression; the ingest number
    # rides as its own top-level metric instead
    ingest_n = int(os.environ.get("SPARK_GRAFT_INGEST_N", "10000"))
    ingest_s = round(bench_gateway_ingest(ingest_n), 3)
    inproc_s = round(bench_gateway_ingest_inproc(ingest_n), 3)
    skew_n = int(os.environ.get("SPARK_GRAFT_SKEW_N", "2000000"))
    skew = bench_skew_stress(spark, skew_n)
    timings.update(skew)
    # headline value = sum of per-query medians + single-shot stress
    # benches: comparable to the earlier rounds' one-pass wall clock,
    # without charging the extra repeat passes to the headline number.
    total = round(sum(timings.values()), 3)
    # host-speed calibration (VERDICT r09 item 2): fixed work, repo-free
    calib_s = round(bench_calibration(spark), 3)
    # sf1 anchor subset (VERDICT r09 item 5); not folded into `value` —
    # it is a new per-round series with its own recorded total
    sf1 = (None if os.environ.get("SPARK_GRAFT_SF1_BENCH", "1") == "0"
           else bench_sf1_subset(spark))

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    scalars = {
        "metric": "headline_query_wall_clock",
        "value": total,
        "unit": "sec",
        # raw total re-expressed at the anchor host speed: moves only
        # when plans change, not when the VM does (BASELINE.md)
        "value_calibrated": round(total * CALIB_REF_S / calib_s, 3),
        "calib_s": calib_s,
        "calib_ref_s": CALIB_REF_S,
        "fanout_msgs_per_s": round(fanout_n / fanout_s, 1),
        "gateway_ingest_s": ingest_s,
        "ingest_reqs_per_s": round(ingest_n / ingest_s, 1),
        "ingest_inproc_reqs_per_s": round(ingest_n / inproc_s, 1),
        "skew_speedup_aqe": round(skew["skew_join_naive"] / skew["skew_join_aqe"], 2),
        "skew_speedup_salted": round(skew["skew_join_naive"] / skew["skew_join_salted"], 2),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    out = dict(scalars)
    out["queries"] = timings
    if sf1 is not None:
        out["sf1_queries"] = sf1
        scalars["sf1_total_s"] = out["sf1_total_s"] = round(sum(sf1.values()), 3)
    emit_results(out, scalars)
    spark.stop()


def emit_results(out: dict, scalars: dict, repo: str = REPO) -> None:
    """Truncation-proof recording (VERDICT r10 item 1): the single full
    JSON line outgrew the driver's fixed-size TAIL capture in round 10
    (the front — metric/value/calib_s — was cut and ``parsed`` came back
    null). Three layers, so whichever slice of stdout the capture keeps
    still yields a parseable record:

    1. the full JSON line prints FIRST (complete record when it fits);
    2. a compact scalars-only line prints LAST — well under any tail
       budget, so the final line of stdout always parses and always
       carries metric/value/value_calibrated/calib_s;
    3. the full dict is also written to bench_last_full.json at the
       repo root, so per-query timings survive any stdout capture.
    """
    print(json.dumps(out))
    try:
        with open(os.path.join(repo, "bench_last_full.json"), "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # recording is best-effort; stdout remains authoritative
    print(json.dumps(scalars))


if __name__ == "__main__":
    main()
