"""Structured Streaming operators (SURVEY.md §2.4 `s_*` tier) — the
SQL-on-stream surface the reference's docker-compose ships ksqlDB for
(docker-compose.yml:86-107), plus the engine's improvements (watermarked
dedup — the reference explicitly does not dedup, README.md:175-184).

Each operator executes a real StreamingQuery to completion over a file
stream of the fixture events (see runner.py) and returns the materialized
result, so the driver's oracle can hold it to the batch-equivalent answer.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from ..io import load_table, scratch_dir
from ..registry import register
from .runner import events_stream, run_to_memory

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@register(
    "s_window_tumbling",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_TS_FMT_DUCK}') AS win_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def s_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate (epoch-aligned 1h windows, same
    alignment as DuckDB time_bucket)."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_to_memory(agg, sf_dir, mode="complete")


@register(
    "s_window_sliding",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts)
                    - o.off * INTERVAL '1 hour', '{_TS_FMT_DUCK}') AS win_start,
           COUNT(*) AS n
    FROM events, (VALUES (0), (1)) AS o(off)
    GROUP BY 1
    """,
)
def s_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide): every event lands in two
    overlapping windows."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("win_start"),
            "n",
        )
    )
    return run_to_memory(agg, sf_dir, mode="complete")


@register(
    "s_window_session",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked)
    SELECT user_id,
           strftime(MIN(ts), '{_TS_FMT_DUCK}') AS sess_start,
           strftime(MAX(ts) + INTERVAL '30 minutes', '{_TS_FMT_DUCK}') AS sess_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sess_id
    """,
)
def s_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user.  Spark session_window
    end = last event + gap; the oracle reconstructs sessions with the
    classic lag/cumsum idiom."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), _TS_FMT).alias("sess_start"),
            F.date_format(F.col("session_window.end"), _TS_FMT).alias("sess_end"),
            "n_events",
        )
    )
    return run_to_memory(agg, sf_dir, mode="complete")


@register(
    "s_watermark_late",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_TS_FMT_DUCK}')
               AS win_start,
           COUNT(*) AS n
    FROM events
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
          <= (SELECT max(ts) - INTERVAL '10 minutes' FROM events)
    GROUP BY 1
    """,
)
def s_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed count in append mode: only windows the final
    watermark (max event time − 10 min) has passed are emitted.  The single
    staged fixture file ⇒ one deterministic micro-batch ⇒ the emitted set
    is exactly the closed windows, which the oracle expresses directly
    (verified equal at sf0.001 and sf0.01)."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("win_start"),
            "n",
        )
    )
    return run_to_memory(agg, sf_dir, mode="append")


@register(
    "s_dedup_watermarked",
    oracle="""
    SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS day
    FROM events
    """,
)
def s_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user, type, day) within a watermark — the
    engine's improvement over the reference, which explicitly does NOT dedup
    (README.md:184).  Key-only output keeps the result order-independent."""
    sdf = events_stream(spark, sf_dir)
    dd = (
        sdf.withColumn("day", F.col("ts").cast("date"))
        .withWatermark("ts", "1 day")
        .dropDuplicates(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )
    return run_to_memory(dd, sf_dir, mode="append")


@register(
    "s_join_stream_static",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment, e.event_type
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def s_join_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (dimension broadcast per micro-batch)."""
    sdf = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = (
        sdf.join(F.broadcast(dim), sdf.user_id == dim.c_custkey)
        .select("event_id", "user_id", "c_mktsegment", "event_type")
    )
    return run_to_memory(joined, sf_dir, mode="append")


def _count_state(key, pdf_iter, state):
    """applyInPandasWithState update function: running per-user counters —
    the reference's metrics cadence (Tier 1 #10) as managed state."""
    (user_id,) = key
    n, total = state.get() if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
    )


@register(
    "s_stateful_counter",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def s_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (running per-key
    count/sum). value sums accumulate in one python float per key —
    sequential, so round(…,2) matches the exact decimal oracle."""
    sdf = events_stream(spark, sf_dir)
    counted = sdf.groupBy("user_id").applyInPandasWithState(
        _count_state,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_memory(counted, sf_dir, mode="update")
    # update mode may emit a key multiple times across batches; keep the last
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .select(
            "user_id",
            "n_events",
            # through DECIMAL for grid-exactness, DOUBLE at the boundary
            F.col("total_value")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_value"),
        )
    )


@register(
    "s_join_stream_stream",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
    """,
)
def s_join_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition (clicks
    attributed to purchases within the previous hour).  Watermarks bound
    the join state on both sides — without them this is a 100 TB state
    leak; with them state is (watermark horizon × arrival rate)."""
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "click_id", "user_id")
    return run_to_memory(joined, sf_dir, mode="append")


@register(
    "s_foreachbatch_dlq",
    oracle="""
    SELECT route, COUNT(*) AS n FROM (
      SELECT CASE WHEN json_valid(props)
                   AND CAST(json_extract_string(props, '$.k') AS BIGINT) <= 90
                  THEN 'good' ELSE 'dlq' END AS route
      FROM events)
    GROUP BY route
    """,
)
def s_foreachbatch_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue split via foreachBatch — the reference's
    errors.deadletterqueue config (kafka-connect-sse.properties:6-7):
    records failing the payload contract divert to a DLQ sink instead of
    failing the stream."""
    sdf = events_stream(spark, sf_dir)
    acc: dict[str, int] = {"good": 0, "dlq": 0}

    def split_batch(batch_df: DataFrame, batch_id: int) -> None:
        # single pass per micro-batch: tag the route, one groupBy — NOT two
        # filtered counts (each would rescan the batch; wrong shape at scale)
        k = F.get_json_object("props", "$.k").try_cast("long")
        routed = batch_df.withColumn(
            "route",
            F.when(k.isNotNull() & (k <= 90), F.lit("good")).otherwise(
                F.lit("dlq")
            ),
        )
        for row in routed.groupBy("route").count().collect():
            acc[row["route"]] += row["count"]

    q = (
        sdf.writeStream.foreachBatch(split_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.createDataFrame(
        [("good", acc["good"]), ("dlq", acc["dlq"])], "route string, n long"
    )


@register(
    "s_observe_metrics",
    oracle="""
    SELECT 'events.total' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM events
    UNION ALL
    SELECT 'events.bytes' AS metric, CAST(SUM(LENGTH(props)) AS BIGINT) AS value
    FROM events
    """,
)
def s_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's running counters (events.total / events.bytes,
    ServerSentEventClient.java:764-803) via df.observe — metrics ride the
    query itself, no second scan."""
    from pyspark.sql import Observation

    e = load_table(spark, sf_dir, "events")
    obs = Observation("sse_metrics")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("events_total"),
        F.sum(F.length("props")).alias("events_bytes"),
    )
    observed.count()  # one action; metrics ride the QueryExecutionListener
    got = obs.get
    return spark.createDataFrame(
        [("events.total", int(got["events_total"])),
         ("events.bytes", int(got["events_bytes"]))],
        "metric string, value long",
    )


def _twis_available() -> bool:
    """transformWithStateInPandas needs the python protobuf runtime for its
    state-server protocol; register the op only where it can actually run
    (the module is absent in this container — same conditional-surface
    pattern as snk_avro)."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # parent 'google' namespace absent
        return False


if _twis_available():  # pragma: no cover - environment-dependent
    @register(
        "s_transform_with_state",
        oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY user_id
        """,
    )
    def s_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Running per-user counters via transformWithStateInPandas — the
        Spark 4 arbitrary-stateful API (successor to applyInPandasWithState,
        s_stateful_counter above): typed ValueState managed by the state
        store, Arrow-batched input, update-mode emission.  Same oracle as the
        old-API twin, so the two stateful surfaces are pinned to identical
        semantics."""
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class CounterProcessor(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._state = handle.getValueState(
                    "counts", "n long, total double"
                )

            def handleInputRows(self, key, rows, timerValues):
                n, total = (
                    self._state.get() if self._state.exists() else (0, 0.0)
                )
                for pdf in rows:
                    n += len(pdf)
                    total += float(pdf["value"].sum())
                self._state.update((n, total))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "total_value": [round(total, 2)],
                    }
                )

            def close(self) -> None:
                pass

        sdf = events_stream(spark, sf_dir)
        counted = sdf.groupBy("user_id").transformWithStateInPandas(
            CounterProcessor(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )
        out = run_to_memory(counted, sf_dir, mode="update")
        # update mode may emit a key several times across batches; keep the last
        return (
            out.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max_by("total_value", "n_events").alias("total_value"),
            )
            .select(
                "user_id",
                "n_events",
                F.col("total_value")
                .cast("decimal(18,2)")
                .cast("double")
                .alias("total_value"),
            )
        )


@register(
    "s_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def s_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark (Spark 3.5+): unlike plain
    dropDuplicates — which keys state forever per distinct tuple —
    duplicates are only suppressed while their first sighting is inside
    the watermark, so state is GUARANTEED to age out even when the key
    space is unbounded (the property that keeps an always-on 100 TB/day
    dedup from growing state without bound).  The fixture replay fits in
    one watermark interval, so output equals plain DISTINCT and stays
    EXACT-checkable."""
    sdf = events_stream(spark, sf_dir)
    dd = (
        sdf.withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(dd, sf_dir, mode="append")


@register(
    "s_checkpoint_resume",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT event_id) AS n_distinct_ids
    FROM events
    """,
)
def s_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once restart: run a checkpointed file-source query to
    completion over HALF the events, land the other half, then start a
    SECOND query on the SAME checkpoint — the restarted query must
    process ONLY the new file.  The comparison surface (total rows +
    distinct event ids == the batch table) fails in BOTH failure modes:
    rows double if the checkpoint is ignored (reprocessing), rows halve
    if the new file is missed.  This is the property that makes a 100 TB
    landing pipeline restartable mid-day without dedup passes — offsets
    live in the checkpoint, the sink commits atomically per batch."""
    import os
    import shutil

    base = scratch_dir("kcss_ckpt_resume")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    shutil.rmtree(base, ignore_errors=True)

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    schema = e.schema

    def run_once() -> None:
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()

    # first half lands, first query drains it
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    run_once()
    # second half arrives as NEW files (append), restarted query resumes
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()

    landed = spark.read.parquet(sink)
    return landed.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
    )


@register(
    "s_join_stream_stream_outer",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p LEFT JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    """,
)
def s_join_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: purchases with no click in the prior
    hour must still emit — with a NULL click — once the watermark proves
    no matching click can ever arrive.  NULL-padded rows are produced by
    STATE EVICTION, which runs in a batch AFTER the one that advanced the
    watermark, so a bounded backfill whose watermark stays inside the data
    would emit zero unmatched rows.  This op stages the production
    'sentinel flush' pattern: a second file source holding one far-future
    sentinel file (a purchase and a click, so both sides' watermarks move)
    is unioned with the events stream.  Both sources land in batch 0,
    which emits every match; the watermark then passes every real row,
    and availableNow runs one no-data batch in which eviction emits the
    unmatched purchases.  Two micro-batches in all.
    Sentinel rows carry user_id < 0 and are filtered from the output, so
    the answer equals the batch LEFT JOIN the oracle states.  At 100 TB
    the same trick closes out a backfilled day; in continuous operation
    live traffic plays the role of the sentinel.  State is bounded by
    (watermark delay + join window) x arrival rate per side."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    # the sentinel in the streamed schema (ts as UTC-adjusted micros, which
    # Spark reads as TIMESTAMP), written once per process
    d = scratch_dir("kcss_outer_join_sentinel")
    path = os.path.join(d, "sentinel.parquet")
    if not os.path.exists(path):
        os.makedirs(d, exist_ok=True)
        far = datetime.datetime(2100, 1, 1, tzinfo=datetime.timezone.utc)
        pq.write_table(
            pa.table({
                "event_id": pa.array([-2, -3], pa.int64()),
                "ts": pa.array([far, far], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": ["purchase", "click"],
                "value": [0.0, 0.0],
                "props": ["{}", "{}"],
            }),
            path,
        )
    events = events_stream(spark, sf_dir)
    sdf = events.unionByName(spark.readStream.schema(events.schema).parquet(d))
    purchases = (
        sdf.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    clicks = (
        sdf.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "user_id = c_user_id AND "
            "c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
        "leftOuter",
    )
    out = run_to_memory(
        joined.select("purchase_id", "click_id", "user_id"), sf_dir, mode="append"
    )
    return out.filter(F.col("user_id") >= 0)


@register(
    "s_compact_latest",
    oracle=f"""
    SELECT user_id, event_type, event_id AS last_event_id,
           strftime(ts, '{_TS_FMT_DUCK}') AS last_ts
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def s_compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka log compaction ON THE STREAM: the latest record per key,
    maintained as a running stateful aggregate — q_compact_latest's
    streaming twin.  Window functions are unsupported on streams, so the
    latest-record selection is MAX of a (ts, event_id) struct
    (lexicographic — event_id breaks timestamp ties exactly like the
    batch op's ROW_NUMBER ordering), which is an associative, mergeable
    aggregate the state store maintains per key in O(1).

    100 TB posture: per-key state is ONE struct (not the record
    history); complete-mode memory sink here, but the production form is
    update-mode into an upsert sink — exactly the materialization a
    compacted topic consumer builds."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy("user_id", "event_type")
        .agg(F.max(F.struct("ts", "event_id")).alias("m"))
        .select(
            "user_id",
            "event_type",
            F.col("m.event_id").alias("last_event_id"),
            F.date_format(F.col("m.ts"), _TS_FMT).alias("last_ts"),
        )
    )
    return run_to_memory(agg, sf_dir, mode="complete")


@register(
    "s_ohlc_tumbling",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                    '{_TS_FMT_DUCK}') AS win_start,
           event_type,
           arg_min(value, printf('%020d|%012d',
                                 epoch_us(ts), event_id)) AS open,
           MAX(value) AS high, MIN(value) AS low,
           arg_max(value, printf('%020d|%012d',
                                 epoch_us(ts), event_id)) AS close,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def s_ohlc_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars maintained ON THE STREAM — q_ts_ohlc's streaming
    twin (the pairing discipline of q_compact_latest/s_compact_latest):
    open/close are min_by/max_by over the total (ts, event_id) order
    and high/low plain MIN/MAX, ALL of them associative mergeable
    aggregates, so per-(window, type) state is four values + two keys —
    O(1) — and the state store maintains live bars a financial/metrics
    consumer reads directly.

    Cross-engine exactness: values pass through untouched
    (bit-identical doubles); the ordering key is the same total order
    as the batch twin (oracle uses the padded-string rendering).

    100 TB posture: mergeable O(1)-state aggregates are exactly what
    keeps streaming OHLC viable — a first/last_value-over-window form
    would be unbounded state; epoch-aligned tumbling windows match
    DuckDB time_bucket."""
    sdf = events_stream(spark, sf_dir)
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("n"),
        )
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias(
                "win_start"
            ),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n",
        )
    )
    return run_to_memory(agg, sf_dir, mode="complete")


@register(
    "s_window_distinct_users",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                    '{_TS_FMT_DUCK}') AS win_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1
    """,
)
def s_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per tumbling hour — the streaming DISTINCT
    pattern: countDistinct is not a streaming aggregate, so the query
    CHAINS two stateful operators (Spark 4 multi-stateful support):
    watermarked dropDuplicates on (hour-bucket, user) emits each user's
    first event per hour, then the windowed count over the deduped
    stream counts exactly the distinct users.  The dedup key includes
    the hour bucket so a user active across hours counts in each —
    identical semantics to batch COUNT(DISTINCT) per window, which is
    the oracle.

    Scale posture: dedup state is one row per (hour, user) inside the
    watermark (bounded by the 1-day horizon, not corpus history); the
    downstream window state is |windows| counters.  At 100 TB the same
    shape holds — this is the standard exact-distinct streaming recipe;
    the sketch tier (approx_count_distinct per window) is the documented
    swap when per-user exactness can yield (q_agg_approx_distinct's
    trade, streamed)."""
    sdf = events_stream(spark, sf_dir)
    dd = (
        sdf.withColumn("hour_b", F.date_trunc("hour", F.col("ts")))
        .withWatermark("ts", "1 day")
        .dropDuplicates(["hour_b", "user_id"])
    )
    agg = (
        dd.groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").cast("long").alias("n_users"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias(
                "win_start"
            ),
            "n_users",
        )
    )
    return run_to_memory(agg, sf_dir, mode="complete")


STREAM_TOPK = 2


@register(
    "s_topk_per_window",
    oracle=f"""
    WITH c AS (
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                      '{_TS_FMT_DUCK}') AS win_start,
             event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT win_start, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY win_start
                                ORDER BY n DESC, event_type) AS rank
      FROM c)
    SELECT win_start, event_type, n, CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= {STREAM_TOPK}
    """,
)
def s_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the {STREAM_TOPK} busiest event types per
    tumbling hour.  Rank-over-stream is not expressible as a single
    streaming operator (no windowed row_number in Structured
    Streaming), so this is the production decomposition: the STREAM
    maintains the (window, type) counts — mergeable partial-agg state,
    the only part that must see every event — and the RANK runs as a
    batch step over the materialized sink, exactly what a foreachBatch
    sink or downstream reader does with the compacted counts.

    Cross-engine exactness: epoch-aligned 1h windows (the
    s_window_tumbling time_bucket parity), exact integer counts, and
    a (n DESC, event_type) tiebreak so equal counts rank identically.

    100 TB posture: streaming state is |windows|·|types| rows — the
    stream never holds raw events; the rank step's window runs on the
    compacted relation, partitioned by win_start."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias(
                "win_start"
            ),
            "event_type",
            "n",
        )
    )
    counts = run_to_memory(agg, sf_dir, mode="complete")
    return (
        counts.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("win_start").orderBy(
                    F.col("n").desc(), "event_type"
                )
            ),
        )
        .filter(F.col("rank") <= STREAM_TOPK)
        .select(
            "win_start",
            "event_type",
            "n",
            F.col("rank").cast("int").alias("rank"),
        )
    )


ALERT_FACTOR = 2  # alert when an hour exceeds FACTOR x the type's mean


@register(
    "s_threshold_alert",
    oracle=f"""
    WITH c AS (
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                      '{_TS_FMT_DUCK}') AS win_start,
             event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(n) AS BIGINT) AS total
      FROM c GROUP BY event_type)
    SELECT c.win_start, c.event_type, c.n,
           ROUND(CAST(c.n * t.n_hours AS DOUBLE) / t.total, 6)
             AS times_mean
    FROM c JOIN t ON t.event_type = c.event_type
    WHERE c.n * t.n_hours > {ALERT_FACTOR} * t.total
    """,
)
def s_threshold_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming spike alerting: emit a row whenever an event type's
    tumbling-hour volume exceeds {ALERT_FACTOR}x that type's own mean
    hourly volume — the self-calibrating monitoring shape
    (error-spike pager, rate tripwire) the reference's SSE feed
    exists to drive.  The stream maintains the windowed counts — the
    only stateful part; the baseline compare runs over the
    materialized counts exactly as a foreachBatch alert sink would,
    so the alert fires on completed windows, never raw events.

    Cross-engine exactness: the spike predicate is the integer
    cross-multiplication n·n_hours > {ALERT_FACTOR}·total — the mean
    never exists as a float; times_mean is one double division of
    exact integers, rounded to 6.

    100 TB posture: streaming state is |windows|·|types| counters;
    the baseline relation is |types|-bounded and broadcast; the sink
    sees alert rows only."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias(
                "win_start"
            ),
            "event_type",
            "n",
        )
    )
    # the memory-sink table self-joins (counts vs its own baseline):
    # checkpoint the tiny batch result so the two sides are distinct
    # plan nodes (conflicting-references otherwise)
    counts = run_to_memory(agg, sf_dir, mode="complete").localCheckpoint(
        eager=True
    )
    t = counts.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("n").cast("long").alias("total"),
    )
    from pyspark.sql.functions import broadcast as _bc

    j = counts.join(_bc(t), "event_type")
    return j.filter(
        F.col("n") * F.col("n_hours") > ALERT_FACTOR * F.col("total")
    ).select(
        "win_start",
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(
            (F.col("n") * F.col("n_hours")).cast("double")
            / F.col("total"),
            6,
        ).alias("times_mean"),
    )


BOLL_S_W = 6  # rolling band width in completed hourly windows


@register(
    "s_bollinger_alert",
    oracle=f"""
    WITH c AS (
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                      '{_TS_FMT_DUCK}') AS win_start,
             event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT win_start, event_type, n,
             CAST(COUNT(*) OVER win AS BIGINT) AS n_win,
             CAST(SUM(n) OVER win AS BIGINT) AS s,
             CAST(SUM(n * n) OVER win AS BIGINT) AS sq
      FROM c
      WINDOW win AS (PARTITION BY event_type ORDER BY win_start
                     ROWS {BOLL_S_W - 1} PRECEDING))
    SELECT win_start, event_type, n,
           ROUND(CAST(s AS DOUBLE) / n_win, 6) AS sma,
           ROUND(sqrt(GREATEST(
             (n_win * CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s)
             / (CAST(n_win AS DOUBLE) * n_win), 0.0)), 6) AS sd,
           CASE WHEN CAST(n AS DOUBLE)
                     > ROUND(CAST(s AS DOUBLE) / n_win
                             + 2 * sqrt(GREATEST(
                                 (n_win * CAST(sq AS DOUBLE)
                                  - CAST(s AS DOUBLE) * s)
                                 / (CAST(n_win AS DOUBLE) * n_win),
                                 0.0)), 6)
                THEN 'up' ELSE 'down' END AS direction
    FROM w
    WHERE n_win = {BOLL_S_W}
      AND (CAST(n AS DOUBLE)
             > ROUND(CAST(s AS DOUBLE) / n_win
                     + 2 * sqrt(GREATEST(
                         (n_win * CAST(sq AS DOUBLE)
                          - CAST(s AS DOUBLE) * s)
                         / (CAST(n_win AS DOUBLE) * n_win), 0.0)), 6)
           OR CAST(n AS DOUBLE)
             < ROUND(CAST(s AS DOUBLE) / n_win
                     - 2 * sqrt(GREATEST(
                         (n_win * CAST(sq AS DOUBLE)
                          - CAST(s AS DOUBLE) * s)
                         / (CAST(n_win AS DOUBLE) * n_win), 0.0)), 6))
    """,
)
def s_bollinger_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming volatility-band alerting: the q_ts_bollinger envelope
    applied to the live feed — alert when an hour's event volume for a
    type closes outside its own {BOLL_S_W}-hour rolling mean ± 2σ band.
    Complements s_threshold_alert (fixed multiple of the GLOBAL mean):
    the band adapts to each type's recent volatility, so a noisy type
    needs a bigger spike to page — the alert a production feed actually
    wants at 3am.

    The stream maintains the tumbling-hour counts (the only stateful
    part — |windows|·|types| counters); the band fold runs over the
    materialized completed windows exactly as a foreachBatch alert sink
    would (the s_threshold_alert decomposition), emitting alert rows
    only.  Warm-up windows (n_win < {BOLL_S_W}) never alert.

    Cross-engine exactness: hourly counts and the rolling Σn, Σn² are
    exact BIGINTs (no DECIMAL needed — the batch op's discipline
    specializes: integer counts square to integers); mean, σ and the
    bands are ONE fixed-order double expression, and the alert
    predicate compares the raw count against the ROUNDED band on both
    engines.

    100 TB posture: identical to s_threshold_alert — per-(type, hour)
    streaming counters with watermarked eviction at scale, a
    |types|·{BOLL_S_W}-row band window in the alert sink.  The rolling
    window partitions by event_type — many series, no global window."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias(
                "win_start"
            ),
            "event_type",
            F.col("n").cast("long").alias("n"),
        )
    )
    counts = run_to_memory(agg, sf_dir, mode="complete").localCheckpoint(
        eager=True
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("win_start")
        .rowsBetween(-(BOLL_S_W - 1), 0)
    )
    w = counts.select(
        "win_start",
        "event_type",
        "n",
        F.count("*").over(win).cast("long").alias("n_win"),
        F.sum("n").over(win).cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).over(win).cast("long").alias("sq"),
    )
    nw = F.col("n_win")
    s = F.col("s").cast("double")
    sq = F.col("sq").cast("double")
    mean = s / nw
    sd = F.sqrt(
        F.greatest(
            (nw * sq - s * s) / (nw.cast("double") * nw), F.lit(0.0)
        )
    )
    up6 = F.round(mean + 2 * sd, 6)
    lo6 = F.round(mean - 2 * sd, 6)
    nd = F.col("n").cast("double")
    return (
        w.filter(
            (nw == BOLL_S_W) & ((nd > up6) | (nd < lo6))
        )
        .select(
            "win_start",
            "event_type",
            "n",
            F.round(mean, 6).alias("sma"),
            F.round(sd, 6).alias("sd"),
            F.when(nd > up6, F.lit("up"))
            .otherwise(F.lit("down"))
            .alias("direction"),
        )
    )


SRM_S_CRIT = 3.841  # chi-squared(1) 95% critical value (q_agg_srm_check)


@register(
    "s_srm_monitor",
    oracle=f"""
    WITH c AS (
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                      '{_TS_FMT_DUCK}') AS win_start,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1
      FROM events GROUP BY 1),
    cum AS (
      SELECT win_start, n0, n1,
             CAST(SUM(n0) OVER (ORDER BY win_start
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS c0,
             CAST(SUM(n1) OVER (ORDER BY win_start
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS c1
      FROM c)
    SELECT win_start, n0 AS n_arm0_hour, n1 AS n_arm1_hour,
           c0 AS cum_arm0, c1 AS cum_arm1,
           ROUND(CAST((c0 - c1) * (c0 - c1) AS DOUBLE) / (c0 + c1), 6)
             AS chi2_cum,
           ROUND(CAST((c0 - c1) * (c0 - c1) AS DOUBLE) / (c0 + c1), 6)
             > {SRM_S_CRIT} AS srm_breach
    FROM cum
    """,
)
def s_srm_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sample-ratio-mismatch monitor — q_agg_srm_check's gate
    run CONTINUOUSLY against the live feed: per completed hour, arm
    traffic counts (user parity, the standing arm convention) fold into
    cumulative totals and a running chi-squared(1), flagging the hour a
    50/50 split breaks (a bot filter deployed to one arm, a logging
    regression, a redirect bias).  Event-weighted by design — it
    monitors TRAFFIC share drift, the early symptom; the batch op on
    distinct users is the confirmatory test.

    Stream decomposition (the s_threshold_alert/s_bollinger_alert
    shape): the stateful part is ONLY the per-(hour, arm) counters;
    the cumulative fold and decision run over the materialized
    completed windows as a foreachBatch alert sink would.

    Cross-engine exactness: counts and cumulative sums exact BIGINT;
    chi² = (c0−c1)²/N is ONE double division rounded 6 (the
    q_agg_srm_check identity); literal 3.841 decision.

    100 TB posture: per-hour-arm streaming counters (2 per hour) with
    watermarked eviction; the monitor fold rides |hours| rows —
    single-series ordered window, the documented exception."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(
            F.window("ts", "1 hour"),
            (F.col("user_id") % 2).alias("arm"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias(
                "win_start"
            ),
            "arm",
            F.col("n").cast("long").alias("n"),
        )
    )
    counts = run_to_memory(agg, sf_dir, mode="complete")
    hourly = counts.groupBy("win_start").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    wcum = Window.orderBy("win_start").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hourly.select(
        "win_start",
        "n0",
        "n1",
        F.sum("n0").over(wcum).cast("long").alias("c0"),
        F.sum("n1").over(wcum).cast("long").alias("c1"),
    )
    chi2 = F.round(
        ((F.col("c0") - F.col("c1")) * (F.col("c0") - F.col("c1")))
        .cast("double")
        / (F.col("c0") + F.col("c1")),
        6,
    )
    return cum.select(
        "win_start",
        F.col("n0").alias("n_arm0_hour"),
        F.col("n1").alias("n_arm1_hour"),
        F.col("c0").alias("cum_arm0"),
        F.col("c1").alias("cum_arm1"),
        chi2.alias("chi2_cum"),
        (chi2 > SRM_S_CRIT).alias("srm_breach"),
    )


@register(
    "s_foreachbatch_idempotent",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum
    FROM events GROUP BY event_type
    """,
)
def s_foreachbatch_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once file landing under at-least-once redelivery — the
    OTHER half of the foreachBatch contract next to s_foreachbatch_dlq:
    Structured Streaming guarantees a batch_id is stable across
    retries, so a writer that lands each micro-batch at a
    DETERMINISTIC batch_id-keyed path with overwrite semantics
    converges to exactly-once output no matter how many times the
    batch is redelivered.  The op REPLAYS batch 0's write (the retry a
    crashed commit produces in production), then reads the landing
    back — an append-mode writer would double batch 0's rows and fail
    the EXACT gate; the idempotent one matches the batch truth.

    100 TB posture: per-batch overwrite of a batch-keyed directory is
    a metadata swap (no read-modify-write of prior batches), and the
    landing read is an ordinary partition-discovered parquet scan —
    this is how every foreachBatch → object-store sink earns its
    exactly-once claim on top of at-least-once execution."""
    out = scratch_dir("kcss_s_idem")
    shutil.rmtree(out, ignore_errors=True)
    sdf = events_stream(spark, sf_dir)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(out, f"batch={batch_id}")
        batch_df.select("event_type", "user_id").write.mode(
            "overwrite"
        ).parquet(target)
        if batch_id == 0:  # simulated redelivery: the retried commit
            batch_df.select("event_type", "user_id").write.mode(
                "overwrite"
            ).parquet(target)

    q = (
        sdf.writeStream.foreachBatch(land)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(os.path.join(out, "batch=*"))
    return back.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("user_id").cast("long").alias("uid_sum"),
    )
