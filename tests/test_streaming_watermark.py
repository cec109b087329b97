"""Multi-batch watermark semantics, pinned empirically.

Spark applies the late-row filter with one micro-batch of lag: rows behind
the watermark that arrive in the first batch after the watermark advanced
are still aggregated and emitted once (batch 2 below); by the next batch
the filter is active and late arrivals for the same window are dropped
entirely (batch 3).  State behind the watermark is evicted either way, so
streaming-agg state is bounded by the watermark horizon — the property
that matters at 100 TB."""

import os
import shutil
import time
from datetime import datetime

from pyspark.sql import functions as F

from kafka_connect_sse_spark.io import scratch_dir


def test_watermark_evicts_old_window_state(spark):
    base = scratch_dir("kcss_wm_test")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "in")
    os.makedirs(src)

    schema = "event_id long, ts timestamp"
    batches = [
        # batch 1: recent data → watermark advances to 09:09 Jan 2
        [(i, datetime(2024, 1, 2, 10, i)) for i in range(10)],
        # batch 2: 5 rows in the long-closed 00:00 Jan 1 window
        [(100 + i, datetime(2024, 1, 1, 0, i)) for i in range(5)],
        # batch 3: 3 more rows in the SAME old window
        [(200 + i, datetime(2024, 1, 1, 0, i)) for i in range(3)],
    ]
    now = time.time()
    for bi, rows in enumerate(batches):
        path = os.path.join(src, f"b{bi}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
        for root, _, files in os.walk(path):
            for f in files:
                mt = now - 300 + bi * 60  # discovery order b0, b1, b2
                os.utime(os.path.join(root, f), (mt, mt))

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
    )
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("window.start", "yyyy-MM-dd HH:mm").alias("w"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_evict_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 3, "expected one micro-batch per file"

    out = [(r.w, r.n) for r in spark.table("wm_evict_test").collect()]
    old = sorted(n for w, n in out if w == "2024-01-01 00:00")
    # batch 2 emitted once (filter lags one batch); batch 3's rows for the
    # same window were dropped as late — never accumulated (no 8), never
    # restarted (no 3)
    assert old == [5], out
    assert ("2024-01-02 10:00", 10) in out
    shutil.rmtree(base, ignore_errors=True)


def test_outer_join_two_batches_at_paced_partitions(spark):
    """s_join_stream_stream_outer runs one data batch (data file and
    sentinel together) plus the no-data eviction batch, at no more state
    partitions than the session default, and still equals its oracle."""
    import duckdb
    from pyspark.sql.streaming import StreamingQueryListener

    from kafka_connect_sse_spark.registry import oracle_sql, queries
    from tools.check_correctness import canon

    sf_dir = "/root/testdata/sf0.001"
    name = "s_join_stream_stream_outer"

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        spdf = queries()[name](spark, sf_dir).toPandas()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    opdf = con.execute(oracle_sql()[name]).df()
    scols, _, shash = canon(spdf)
    ocols, _, ohash = canon(opdf)
    assert (scols, shash) == (ocols, ohash)
    assert spdf["click_id"].isna().any(), "no row came from state eviction"

    assert len({p.id for p in listener.events}) == 1
    assert [p.batchId for p in listener.events] == [0, 1]
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = [s.numShufflePartitions for p in listener.events for s in p.stateOperators]
    assert parts and max(parts) <= session_parts, parts
    # 28 KB of staged events: the sizing rule gives one state partition
    assert set(parts) == {1}, parts
