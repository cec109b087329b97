"""Benchmark harness (BASELINE.md §2 protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], AQE on, UTC, and prints
ONE JSON line:

    {"metric": "total_median_wall_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Per query: two warm-up runs then median of 3 timed runs (collect() to force
full materialization, count only as a fallback for huge outputs).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# headline set: the scale-critical operators across every tier
HEADLINE = [
    "q_agg_groupby",          # TPC-H Q1-style scan+agg
    "q_join_multiway",        # 5-table star join
    "q_join_inner_shuffle",   # fact-fact shuffle join
    "q_agg_count_distinct",   # expand + two-phase distinct
    "q_win_ranking",          # partitioned window sort
    "q_topk_per_group",       # ranked top-k
    "q_limit_topk",           # global top-k
    "q_agg_grouping_sets",    # multi-grouping aggregate
    "q_fn_json",              # JSON path extraction (SMT tier)
    "x_text_stats",           # token stats over documents
    "x_dedup_exact_hash",     # content-hash dedup
    "x_dedup_near_minhash",   # MinHash LSH + verify
    "x_sim_topk_cosine",      # brute-force cosine top-k
    "x_fingerprint",          # posexplode fingerprint
    "u_pandas_udf",           # Arrow-vectorized UDF
]

# round-4 additions: timed and recorded in "queries" like the headline
# set, but kept OUT of the headline total ("value") so the total stays
# apples-to-apples with BASELINE.md's round-1 protocol; their sum is
# reported separately as "extra_total_sec" (BASELINE.md §Round-4).
EXTRA = [
    "x_seq_pack",             # two-level sequence packing (window + bcast)
    "x_corpus_prep",          # composite quality->dedup->balance->pack
    "q_join_bloom_prune",     # runtime bloom scan-prune + exact verify
    "x_ann_rerank",           # int8 shortlist + fp64 re-rank ANN
    "q_funnel_stages",        # chained-window funnel (round-8 analytics)
    "x_importance_resample",  # DSIR selection (round-8, one explode)
]

RUNS = 3
# two warm-up runs per query: one is not enough for the heaviest operators
# (x_dedup_near_minhash spans dozens of codegen stages + an eager
# localCheckpoint; its second run is still JIT-warming, which showed up as
# 2x run-to-run variance in round 2/3 probes)
WARMUPS = 2
# outputs larger than this are forced via count() instead of collect(), so
# the bench measures engine execution, not Python row deserialization
COLLECT_CAP_ROWS = 100_000

N_INGEST_EVENTS = 50_000

# FROZEN host canary (round 14, VERDICT r13 item 2).  A fixed
# scan+shuffle+sort job over spark.range — no fixture input, no operator
# code — timed with the same warmup/median protocol as the queries and
# reported as "canary_sec" (start of run) / "canary_end_sec" (end of run)
# OUTSIDE every total.  Its only purpose is host-drift normalization:
# the r13 perf window showed 14 untouched queries "regressing" 1.5-3.5x
# purely from host phase; dividing by the canary ratio separates host
# from code.  DO NOT OPTIMIZE OR TOUCH THIS JOB — its value is that its
# cost is code-frozen across rounds.  The summed hash is reduced mod a
# prime first: a raw xxhash64 sum overflows a long, which ANSI mode
# (pinned on by session.get_spark) raises as ARITHMETIC_OVERFLOW.
CANARY_ROWS = 8_000_000


def canary_bench(spark) -> float:
    from pyspark.sql import functions as F

    times = []
    for i in range(RUNS + WARMUPS):
        spark.sparkContext.setJobDescription("bench: frozen host canary")
        t0 = time.perf_counter()
        (
            spark.range(0, CANARY_ROWS)
            .select(
                (F.col("id") % 100_000).alias("k"),
                (F.xxhash64("id") % F.lit(1_000_003)).alias("h"),
            )
            .groupBy("k")
            .agg(F.sum("h").alias("s"), F.count("*").alias("n"))
            .orderBy(F.desc("s"))
            .limit(100)
            .collect()
        )
        dt = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        if i >= WARMUPS:
            times.append(dt)
    return round(statistics.median(times), 3)


def sse_ingest_bench(spark, n_events: int = N_INGEST_EVENTS,
                     name: str = "bench_sse_ingest") -> float:
    """Ingest throughput of the custom SSE source: serve N synthetic events
    over a localhost socket, measure wall-clock until all are landed in a
    memory sink.  (The reference's deployed rate is network-bound at tens
    of events/s — wikipedia-connector.json:10-13; this measures the
    engine-side ceiling.)"""
    import threading
    import time as _t
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from kafka_connect_sse_spark.sources.sse import register_sse_source

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.end_headers()
            buf = []
            for i in range(n_events):
                buf.append(f"event: e\nid: {i}\ndata: {{\"k\": {i}}}\n\n")
                if len(buf) >= 500:
                    self.wfile.write("".join(buf).encode())
                    buf = []
            self.wfile.write("".join(buf).encode())
            self.wfile.flush()
            try:
                for _ in range(600):
                    _t.sleep(0.1)
                    self.wfile.write(b": ka\n\n")
                    self.wfile.flush()
            except (BrokenPipeError, ConnectionResetError):
                pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    register_sse_source(spark)
    t0 = time.perf_counter()
    sdf = (
        spark.readStream.format("sse")
        .option("uri", f"http://127.0.0.1:{srv.server_address[1]}/s")
        .option("maxEventsPerBatch", "100000")
        .option("sse.buffer.max", "200000")
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        while spark.table(name).count() < n_events:
            if time.perf_counter() - t0 > 120:
                break
            time.sleep(0.2)
        dt = time.perf_counter() - t0
    finally:
        q.stop()
        srv.shutdown()
        srv.server_close()
    return dt


INGEST_PACE_EV_S = 3_000  # per-socket server pacing for the fan-in A/B
INGEST_PACED_EVENTS = 15_000


def sse_ingest_multi_bench(spark, n_streams: int = 3,
                           n_events: int = INGEST_PACED_EVENTS,
                           pace_ev_s: int = INGEST_PACE_EV_S) -> dict:
    """Fan-in ingest throughput (src_sse_multi's claim, measured in the
    regime where it holds): each server is PACED at pace_ev_s events/s —
    the production situation, where the per-socket delivery rate, not the
    engine, is the bottleneck (the reference's deployed endpoint delivers
    ~10 ev/s, wikipedia-connector.json:10-13).  n_events split across
    n_streams paced endpoints, n_streams `sse` readers unioned into ONE
    memory sink, wall-clock until every event lands.  With n_streams=1
    this is the paced single-socket control.  (On unpaced loopback the
    Python-datasource bridge, not the socket, is the bottleneck, and
    fan-in only adds bridge overhead — measured 3.0 s single vs 5.7 s
    3-stream at 50k events — so the unpaced form would test the wrong
    regime.)"""
    import threading
    import time as _t
    from functools import reduce
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from kafka_connect_sse_spark.sources.sse import register_sse_source

    per = n_events // n_streams

    def make_handler(lo: int, hi: int):
        class H(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_GET(self):
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.end_headers()
                burst = max(1, pace_ev_s // 20)  # 50 ms ticks
                buf = []
                try:
                    for i in range(lo, hi):
                        buf.append(
                            f"event: e\nid: {i}\ndata: {{\"k\": {i}}}\n\n"
                        )
                        if len(buf) >= burst:
                            self.wfile.write("".join(buf).encode())
                            self.wfile.flush()
                            buf = []
                            _t.sleep(0.05)
                    self.wfile.write("".join(buf).encode())
                    self.wfile.flush()
                    for _ in range(600):
                        _t.sleep(0.1)
                        self.wfile.write(b": ka\n\n")
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError):
                    pass

        return H

    servers = []
    for s in range(n_streams):
        srv = ThreadingHTTPServer(
            ("127.0.0.1", 0), make_handler(s * per, (s + 1) * per)
        )
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
    register_sse_source(spark)
    total = per * n_streams
    name = f"bench_sse_multi_{servers[0].server_address[1]}"
    t0 = time.perf_counter()
    streams = [
        spark.readStream.format("sse")
        .option("uri", f"http://127.0.0.1:{srv.server_address[1]}/s")
        .option("maxEventsPerBatch", "100000")
        .option("sse.buffer.max", "200000")
        .load()
        for srv in servers
    ]
    union = reduce(lambda a, b: a.unionByName(b), streams)
    q = (
        union.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    t_first = None
    try:
        while True:
            n = spark.table(name).count()
            if t_first is None and n > 0:
                t_first = time.perf_counter()
            if n >= total or time.perf_counter() - t0 > 120:
                break
            time.sleep(0.2)
        t_end = time.perf_counter()
    finally:
        q.stop()
        for srv in servers:
            srv.shutdown()
            srv.server_close()
    # steady-state drain (first landed row -> last): excludes the
    # one-time per-reader bridge startup (~1.3 s/reader), which is noise
    # for an ingest that runs for days but dominates a seconds-long bench
    return {
        "total_sec": round(t_end - t0, 3),
        "steady_sec": round(t_end - (t_first or t0), 3),
    }


def streaming_latency_bench(spark, sf_dir: str, n_files: int = 8) -> dict:
    """Per-micro-batch latency of the stateful streaming tier (VERDICT r4
    item 8): stage the events table as n_files files, drive each stateful
    shape batch-by-batch (maxFilesPerTrigger=1, availableNow), and read
    the per-batch wall time straight off StreamingQueryProgress.
    Reported: median triggerExecution seconds over data-carrying batches
    for (a) the watermarked session-window aggregation and (b) the
    watermarked stream-stream left-outer join — the two shapes whose
    state store dominates streaming cost at scale.

    Also reported (VERDICT r5 item 5): the per-batch
    `stateOperators[].numRowsTotal` curve for each shape — the recorded
    form of the bounded-state claim.  Because every staged file carries a
    uniform sample of the full time range, the watermark jumps near the
    stream's end after batch 1 and eviction runs every batch: a curve
    that plateaus (instead of growing with rows ingested) is the
    watermark doing its job; unbounded growth here would be the
    100 TB-streaming failure mode.

    Round 7 (VERDICT r6 item 8): both shapes also run under
    RocksDBStateStoreProvider (the production billions-of-keys backend,
    SCALE.md §Streaming) with the same curves recorded — eviction is a
    property of the watermark contract, not of the state backend, and
    the `*_rocksdb` keys are the recorded form of that
    provider-agnosticism at bench scale.

    The streaming queries here run at a fixed 8 state partitions so the
    series stays comparable across rounds.  A watermarked stream-stream
    join instantiates FOUR state stores per shuffle partition, each
    paying a commit EVERY micro-batch regardless of row volume, so the
    partition count sets the per-batch floor.  The s_* operators size
    their state partitions to the staged input instead
    (streaming.runner.run_to_memory); SCALE.md §"Streaming
    state-partition sizing" has the measurement."""
    import shutil
    import statistics as _st

    from pyspark.sql import functions as _F

    from kafka_connect_sse_spark.io import load_table, scratch_dir

    src = scratch_dir("kcss_bench_stream_src")  # pid-keyed, atexit-cleaned
    shutil.rmtree(src, ignore_errors=True)
    e = load_table(spark, sf_dir, "events")
    e.withColumn("shard", _F.pmod("event_id", _F.lit(n_files))).repartition(
        n_files, "shard"
    ).drop("shard").write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def batches(build):
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            build(sdf)
            .writeStream.format("memory")
            .queryName(f"bench_lat_{id(build)}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if q.isActive:
            q.stop()
        progress = [json.loads(x.json) for x in q.recentProgress]
        durs = [
            p["durationMs"]["triggerExecution"] / 1000.0
            for p in progress
            if p["numInputRows"] > 0
        ]
        # total state rows per data-carrying batch, summed across the
        # shape's state operators (the join keeps two per-side stores)
        state_rows = [
            sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
            for p in progress
            if p["numInputRows"] > 0
        ]
        return (
            round(_st.median(durs), 3) if durs else None,
            state_rows,
        )

    def session_agg(sdf):
        return (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(_F.session_window("ts", "30 minutes"), "user_id")
            .agg(_F.count("*").alias("n_events"))
            .select("user_id", "n_events")
        )

    def chained_distinct(sdf):
        # the Spark-4 multi-stateful chain (s_window_distinct_users):
        # watermarked dropDuplicates feeds a windowed count — TWO state
        # stores in one query, the exact-distinct streaming recipe
        dd = (
            sdf.withColumn("hour_b", _F.date_trunc("hour", _F.col("ts")))
            .withWatermark("ts", "1 day")
            .dropDuplicates(["hour_b", "user_id"])
        )
        return (
            dd.groupBy(_F.window("ts", "1 hour"))
            .agg(_F.count("*").alias("n_users"))
            .select(_F.col("window.start").alias("win_start"), "n_users")
        )

    def outer_join(sdf):
        purchases = (
            sdf.filter(_F.col("event_type") == "purchase")
            .select(
                _F.col("event_id").alias("purchase_id"),
                "user_id",
                _F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "30 minutes")
        )
        clicks = (
            sdf.filter(_F.col("event_type") == "click")
            .select(
                _F.col("event_id").alias("click_id"),
                _F.col("user_id").alias("c_user_id"),
                _F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "30 minutes")
        )
        return purchases.join(
            clicks,
            _F.expr(
                "user_id = c_user_id AND "
                "c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
            ),
            "leftOuter",
        ).select("purchase_id", "click_id", "user_id")

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    parts_key = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(parts_key)
    spark.conf.set(parts_key, "8")  # pace state partitions to volume
    changelog_key = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    try:
        sess_p50, sess_state = batches(session_agg)
        join_p50, join_state = batches(outer_join)
        chain_p50, chain_state = batches(chained_distinct)
        prev = spark.conf.get(provider_key, None)
        spark.conf.set(provider_key, rocksdb)  # read at query start
        # RocksDB runs with changelog checkpointing (VERDICT r11
        # item 8): per-batch commits upload the delta instead of a
        # full snapshot — the only O(batch) checkpoint at the sf10
        # state tier (SCALE.md streaming state-size attribution)
        spark.conf.set(changelog_key, "true")
        try:
            r_sess_p50, r_sess_state = batches(session_agg)
            r_join_p50, r_join_state = batches(outer_join)
            r_chain_p50, r_chain_state = batches(chained_distinct)
        finally:
            spark.conf.unset(changelog_key)
            if prev is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prev)
        out = {
            "s_window_session_p50_batch_sec": sess_p50,
            "s_join_stream_outer_p50_batch_sec": join_p50,
            "s_chained_distinct_p50_batch_sec": chain_p50,
            "s_window_session_state_rows": sess_state,
            "s_join_stream_outer_state_rows": join_state,
            "s_chained_distinct_state_rows": chain_state,
            "s_window_session_p50_batch_sec_rocksdb": r_sess_p50,
            "s_join_stream_outer_p50_batch_sec_rocksdb": r_join_p50,
            "s_chained_distinct_p50_batch_sec_rocksdb_changelog": (
                r_chain_p50
            ),
            "s_window_session_state_rows_rocksdb": r_sess_state,
            "s_join_stream_outer_state_rows_rocksdb": r_join_state,
            "s_chained_distinct_state_rows_rocksdb_changelog": (
                r_chain_state
            ),
            "rocksdb_changelog_checkpointing": True,
            "state_partitions": 8,
        }
    finally:
        spark.conf.set(parts_key, prev_parts)
        shutil.rmtree(src, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from kafka_connect_sse_spark.registry import queries
    from kafka_connect_sse_spark.session import get_spark

    spark = get_spark(app_name="kcss-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    sf = None
    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""))
    except ValueError:
        pass

    def run_query(name: str) -> float:
        fn = qs[name]
        times = []
        for i in range(RUNS + WARMUPS):  # leading runs are warm-up
            # a relation persisted by the previous run must not make
            # this one look faster
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            if n <= COLLECT_CAP_ROWS:
                df.collect()
            dt = time.perf_counter() - t0
            if i >= WARMUPS:
                times.append(dt)
        med = round(statistics.median(times), 3)
        print(f"# {name}: {med}s (n={n})", file=sys.stderr)
        return med

    canary_sec = canary_bench(spark)
    print(f"# canary (frozen host probe): {canary_sec}s", file=sys.stderr)

    results: dict[str, float] = {}
    for name in HEADLINE:
        results[name] = run_query(name)

    # same protocol as the batch queries: one warm-up run (tiny event
    # count — first streaming query pays one-time class-loading and
    # Python-data-source bridge startup), then median of RUNS timed runs
    # (a single timed run showed 2x swings round-to-round: 3.1 s vs 6.1 s
    # probes with identical code)
    sse_ingest_bench(spark, n_events=2_000, name="bench_sse_warmup")
    ingest_sec = round(
        statistics.median(
            sse_ingest_bench(spark, name=f"bench_sse_{i}") for i in range(RUNS)
        ),
        3,
    )
    results["sse_ingest_50k_events"] = ingest_sec
    print(
        f"# sse_ingest: {N_INGEST_EVENTS} events in {ingest_sec}s "
        f"(~{int(N_INGEST_EVENTS / max(ingest_sec, 1e-9))} ev/s)",
        file=sys.stderr,
    )

    total = round(sum(results.values()), 3)

    extra: dict[str, float] = {}
    for name in EXTRA:
        extra[name] = run_query(name)

    canary_end_sec = canary_bench(spark)
    print(f"# canary end-of-run: {canary_end_sec}s", file=sys.stderr)

    lat = streaming_latency_bench(spark, sf_dir)
    for k, v in lat.items():
        # scalar entries are seconds; list entries are per-batch row counts
        unit = "s" if isinstance(v, (int, float)) else ""
        print(f"# {k}: {v}{unit}", file=sys.stderr)

    one_runs = [sse_ingest_multi_bench(spark, n_streams=1)
                for _ in range(RUNS)]
    multi_runs = [sse_ingest_multi_bench(spark, n_streams=3)
                  for _ in range(RUNS)]
    med = lambda rs, k: round(statistics.median(r[k] for r in rs), 3)  # noqa: E731
    ingest_scaling = {
        "paced_1_stream_steady_sec": med(one_runs, "steady_sec"),
        "paced_3_streams_steady_sec": med(multi_runs, "steady_sec"),
        "paced_1_stream_total_sec": med(one_runs, "total_sec"),
        "paced_3_streams_total_sec": med(multi_runs, "total_sec"),
        "pace_ev_s_per_socket": INGEST_PACE_EV_S,
        "n_events": INGEST_PACED_EVENTS,
    }
    print(f"# paced ingest fan-in steady drain: 1 stream "
          f"{ingest_scaling['paced_1_stream_steady_sec']}s, 3 streams "
          f"{ingest_scaling['paced_3_streams_steady_sec']}s", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "total_median_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": {**results, **extra},
                "extra_total_sec": round(sum(extra.values()), 3),
                "canary_sec": canary_sec,
                "canary_end_sec": canary_end_sec,
                "streaming_latency": lat,
                "ingest_scaling": ingest_scaling,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
