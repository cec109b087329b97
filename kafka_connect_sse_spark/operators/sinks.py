"""Source/sink operators (SURVEY.md §2.4 sources/sinks tier).

src_sse_stream is the full reference pipeline end-to-end: a local HTTP
server streams fixture events over real SSE wire format → the custom `sse`
DataSource ingests them (auth/headers/backoff machinery live) → memory sink
→ compared EXACTLY against the fixture rows it served.  The others cover
the storage formats: partitioned parquet write (the landing zone of the
blessed SSE→parquet→analytics topology), JSONL with explicit schema, and
the topic-named memory sink (Tier 1 #6 topic routing).
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table, scratch_dir
from ..registry import register
from ..sources.sse import register_sse_source

N_SSE_EVENTS = 200


def _sse_payload_rows(spark: SparkSession, sf_dir: str):
    """The rows the local SSE server serves: envelope = (event_type, id,
    data=props) for event_id < N, ordered by event_id."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_id") < N_SSE_EVENTS)
        .select("event_id", "event_type", "props")
        .orderBy("event_id")
        .collect()
    )


class _SSEHandler(BaseHTTPRequestHandler):
    rows = []

    def log_message(self, *args):  # silence
        pass

    def do_GET(self):
        self.send_response(200)
        self.send_header("Content-Type", "text/event-stream")
        self.send_header("Cache-Control", "no-cache")
        self.end_headers()
        try:
            self.wfile.write(b": stream start\n\n")  # comment/heartbeat line
            for r in type(self).rows:
                msg = (
                    f"event: {r['event_type']}\n"
                    f"id: {r['event_id']}\n"
                    f"data: {r['props']}\n\n"
                )
                self.wfile.write(msg.encode())
            self.wfile.flush()
            # keep the connection open with heartbeats so the client doesn't
            # enter its reconnect loop while Spark drains the buffer; must
            # outlast the 90 s drain deadline below (1200 × 0.1 s = 120 s)
            for _ in range(1200):
                time.sleep(0.1)
                self.wfile.write(b": keepalive\n\n")
                self.wfile.flush()
        except (BrokenPipeError, ConnectionResetError):
            pass


@register(
    "src_sse_stream",
    oracle=f"""
    SELECT event_type AS event,
           CAST(event_id AS VARCHAR) AS id,
           props AS data
    FROM events
    WHERE event_id < {N_SSE_EVENTS}
    """,
)
def src_sse_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSE endpoint → streaming DataFrame, end-to-end over a real socket."""
    rows = [r.asDict() for r in _sse_payload_rows(spark, sf_dir)]
    _SSEHandler.rows = rows
    server = ThreadingHTTPServer(("127.0.0.1", 0), _SSEHandler)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    register_sse_source(spark)
    name = f"sse_ingest_{port}"
    try:
        sdf = (
            spark.readStream.format("sse")
            .option("uri", f"http://127.0.0.1:{port}/stream")
            .option("sse.header.X-Test", "parity")
            .load()
            .select("event", "id", "data")
        )
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        deadline = time.monotonic() + 90
        while time.monotonic() < deadline:
            if spark.table(name).select("id").distinct().count() >= len(rows):
                break
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(30)
    finally:
        server.shutdown()
        server.server_close()
    # a mid-run reconnect re-serves from offset 0 (the stub has no
    # Last-Event-ID resume); rows are bit-identical, so dedup on id keeps
    # the comparison exactly-once without masking real payload drift
    return spark.table(name).dropDuplicates(["id"])


@register(
    "snk_parquet",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def snk_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + re-read: write lineitem partitioned by
    l_returnflag (the landing-zone layout: partition column becomes a
    directory key, enabling partition pruning), then prove the round trip."""
    out = scratch_dir("kcss_snk_parquet")
    shutil.rmtree(out, ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem")
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@register(
    "src_jsonl_scan",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum
    FROM events
    GROUP BY event_type
    """,
)
def src_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with an explicit schema (schema-on-read, no
    inference pass — mandatory at scale): events → jsonl → read back."""
    out = scratch_dir("kcss_src_jsonl")
    shutil.rmtree(out, ignore_errors=True)
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    e.write.mode("overwrite").json(out)
    back = spark.read.schema("event_id long, event_type string, user_id long").json(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("user_id").alias("uid_sum")
    )


@register(
    "snk_memory_topic",
    oracle="""
    SELECT event_type AS event, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def snk_memory_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic routing (Tier 1 #6): the stream lands in a sink addressed by a
    configured topic name — writeStream.queryName(topic) in memory-sink
    form, counted per event class."""
    from ..streaming.runner import events_stream, run_to_memory

    sdf = events_stream(spark, sf_dir)
    envelope = sdf.select(
        F.col("event_type").alias("event"),
        F.col("event_id").cast("string").alias("id"),
        F.col("props").alias("data"),
    )
    landed = run_to_memory(envelope, sf_dir, mode="append")
    return landed.groupBy("event").agg(F.count("*").alias("n"))


_ORC_ORACLE = """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderstatus
    """


@register("snk_orc", oracle=_ORC_ORACLE)
def snk_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-container-format sink (reference Tier 2 #17: the Avro
    converter path, bin/submit_config.sh:17-18).  The spark-avro module is
    an external package not present in this environment, so the row/colum-
    nar format round-trip is proven with built-in ORC — same write→read→
    aggregate parity shape; `snk_avro` below registers automatically
    whenever spark-avro IS on the classpath."""
    out = scratch_dir("kcss_snk_orc")
    shutil.rmtree(out, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


def _spark_avro_available() -> bool:
    """spark-avro (org.apache.spark:spark-avro) ships outside the pyspark
    wheel; the jar-backed DataSource path is used when it is deployable."""
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return any(j.startswith("spark-avro") for j in os.listdir(jars))
    except OSError:
        return False


_AVRO_ORACLE = """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(MAX(o_orderdate) AS DATE) AS last_date
    FROM orders
    GROUP BY o_orderstatus
    """


@register("snk_avro", oracle=_AVRO_ORACLE)
def snk_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink + re-read (reference Tier 2 #17 AvroConverter,
    wikipedia-ccloud-config.json:13,16): land orders as standard Avro
    object container files, read them back, prove aggregate parity
    (counts, DECIMAL-stable money sum, and a date round-trip through
    Avro's logical `date` type).

    Two physical paths, same files, same answer:
    * spark-avro DataSource when its jar is on the classpath;
    * otherwise the pure-Python OCF codec (formats/avro_ocf.py — the
      public Avro 1.11 spec, null codec, nullable-union records), run
      INSIDE executor tasks: mapInPandas writes one container file per
      partition (exactly a FileFormat sink's task layout), and the read
      side is binaryFile scan -> mapInPandas decode, so both directions
      stay distributed and Arrow-batched.  At 100 TB the per-partition
      file layout is the scalable shape; only the codec differs from
      the jar path, not the plan."""
    out = scratch_dir("kcss_snk_avro")
    shutil.rmtree(out, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.to_date("o_orderdate").alias("o_orderdate"),
    )

    if _spark_avro_available():  # pragma: no cover - environment-dependent
        o.write.mode("overwrite").format("avro").save(out)
        back = spark.read.format("avro").load(out)
    else:
        from ..formats.avro_ocf import read_ocf, record_schema, write_ocf

        schema = record_schema(
            "orders",
            [
                ("o_orderkey", "long"),
                ("o_orderstatus", "string"),
                ("o_totalprice", "double"),
                ("o_orderdate", "date"),
            ],
        )
        os.makedirs(out, exist_ok=True)

        def _write_part(pdfs):
            import pandas as pd
            from pyspark import TaskContext

            rows = []
            for pdf in pdfs:
                dates = pd.to_datetime(pdf["o_orderdate"]).dt.date
                rows.extend(
                    zip(
                        pdf["o_orderkey"],
                        pdf["o_orderstatus"],
                        pdf["o_totalprice"],
                        dates,
                    )
                )
            pid = TaskContext.get().partitionId()
            path = os.path.join(out, f"part-{pid:05d}.avro")
            with open(path, "wb") as fh:
                fh.write(write_ocf(rows, schema))
            yield pd.DataFrame({"path": [path], "n": [len(rows)]})

        # sink commit: the 8-row manifest is the action that runs the write
        o.repartition(8).mapInPandas(
            _write_part, "path string, n long"
        ).collect()

        def _read_part(pdfs):
            import pandas as pd

            for pdf in pdfs:
                for blob in pdf["content"]:
                    _, rows = read_ocf(bytes(blob))
                    yield pd.DataFrame(
                        rows,
                        columns=[
                            "o_orderkey",
                            "o_orderstatus",
                            "o_totalprice",
                            "o_orderdate",
                        ],
                    )

        back = (
            spark.read.format("binaryFile")
            .load(os.path.join(out, "*.avro"))
            .select("content")
            .mapInPandas(
                _read_part,
                "o_orderkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date",
            )
        )

    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
        F.max("o_orderdate").alias("last_date"),
    )


@register(
    "src_parquet_evolve",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END)
               AS n_with_status,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    """,
)
def src_parquet_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the landing zone (IMPROVEMENT_PLAN.md:65-68 —
    declared out of scope by the reference; here it costs one reader
    option): batch 1 lands (o_orderkey, o_totalprice), batch 2 adds an
    o_orderstatus column, `mergeSchema=true` unifies them at read time —
    old files surface NULL for the new column.  At 100 TB the same knob
    governs footer-schema reconciliation across years of landed files;
    turn it OFF for hot paths (footer merge is a per-file planning cost)
    and keep evolved columns append-only."""
    out = scratch_dir("kcss_src_evolve")
    shutil.rmtree(out, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(out)
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderstatus").alias("n_with_status"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@register(
    "snk_csv",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def snk_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema'd re-read (the interchange format the reference's
    StringConverter tier implies).  Header on write, EXPLICIT schema on
    read — schema inference over CSV is a full extra pass at scale and is
    never acceptable at 100 TB; quoting round-trips embedded delimiters."""
    out = scratch_dir("kcss_snk_csv")
    shutil.rmtree(out, ignore_errors=True)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    e.write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.schema(
        "event_id long, event_type string, user_id long, value double"
    ).option("header", "true").csv(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "snk_compact_small_files",
    oracle="""
    SELECT true AS compacted_ok, COUNT(*) AS n_rows,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum
    FROM events
    """,
)
def snk_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the landing-zone maintenance job every
    streaming sink needs: a micro-batch writer leaves one file per
    trigger per partition (here simulated with a 64-way write), and the
    compactor rewrites them into a few scan-friendly files (here 4 via
    repartition — at 100 TB you size this to ~target_bytes/file, e.g.
    128 MB－1 GB, from the table's measured bytes).  Emits the compaction
    check as a BOOLEAN (1 <= n_files <= 4, the approx-agg oracle pattern)
    rather than a literal file count: round-robin output partitions can
    come up empty on tiny or filtered fixtures, and fewer-than-4 files is
    still a correct compaction, not a failure.  Content aggregates prove
    nothing was lost."""
    base = scratch_dir("kcss_compact")
    frag = os.path.join(base, "fragmented")
    comp = os.path.join(base, "compacted")
    shutil.rmtree(base, ignore_errors=True)
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    e.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        comp
    )
    n_files = len(
        [f for f in os.listdir(comp) if f.endswith(".parquet")]
    )
    back = spark.read.parquet(comp)
    return back.agg(
        F.lit(1 <= n_files <= 4).alias("compacted_ok"),
        F.count("*").alias("n_rows"),
        F.sum("user_id").alias("uid_sum"),
    )


@register(
    "snk_parquet_pruned",
    oracle="""
    SELECT event_type, user_id, COUNT(*) AS n
    FROM events
    WHERE event_type = 'click'
    GROUP BY event_type, user_id
    """,
)
def snk_parquet_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition PRUNING proof: land events partitioned by event_type,
    then re-read with a partition-key predicate — the scan must touch only
    the one matching directory (PartitionFilters in the plan; the other
    partitions' files are never opened).  This is the layout/query pattern
    that turns a 100 TB scan into a per-partition one."""
    out = scratch_dir("kcss_snk_pruned")
    shutil.rmtree(out, ignore_errors=True)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    e.write.partitionBy("event_type").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    return back.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n")
    )


@register(
    "snk_jsonl",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum
    FROM events
    GROUP BY event_type
    """,
)
def snk_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema'd re-read — the reference's JsonConverter
    tier (the default Connect value.converter in its quickstart config)
    as a Spark format round-trip.  Same discipline as snk_csv: explicit
    schema on read (inference is an extra full pass, unacceptable at
    100 TB); longs and doubles survive the text round-trip exactly, and
    the aggregate pins it."""
    out = scratch_dir("kcss_snk_jsonl")
    shutil.rmtree(out, ignore_errors=True)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    e.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id long, event_type string, user_id long, value double"
    ).json(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
        F.sum("user_id").alias("uid_sum"),
    )


@register(
    "snk_parquet_sorted",
    oracle="""
    SELECT 0 AS overlapping_pairs,
           COUNT(*) AS n_rows,
           epoch_us(MIN(ts)) AS min_ts_us,
           epoch_us(MAX(ts)) AS max_ts_us
    FROM events
    """,
)
def snk_parquet_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-layout parquet sink: repartitionByRange(ts) +
    sortWithinPartitions(ts) before the write, so every output file owns
    a disjoint time range and its footer min/max statistics actually
    prune — the layout that turns a time-predicate scan over a 100 TB
    lake from 'read everything' into 'open the two files that overlap
    the window' (same job file skipping does for Z-ordered tables in one
    dimension).  Verification reads the written footers back with
    pyarrow and COUNTS OVERLAPPING FILE PAIRS — the oracle pins that
    number at exactly 0, plus row count and the global ts range, so a
    regression in the layout (a shuffle that breaks the range
    partitioning) fails the EXACT check, not just a perf graph.
    RangePartitioner samples boundaries but the sampling is seeded per
    partition, so the layout is deterministic run to run."""
    import pyarrow.parquet as pq

    out = scratch_dir("kcss_snk_sorted")
    shutil.rmtree(out, ignore_errors=True)
    e = load_table(spark, sf_dir, "events")
    # Spark's default INT96 timestamp encoding carries NO footer min/max
    # statistics — the whole point of this layout; write TIMESTAMP_MICROS
    tkey = "spark.sql.parquet.outputTimestampType"
    tprev = spark.conf.get(tkey, "INT96")
    spark.conf.set(tkey, "TIMESTAMP_MICROS")
    try:
        (
            e.repartitionByRange(8, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(out)
        )
    finally:
        spark.conf.set(tkey, tprev)
    ranges = []
    n_rows = 0
    for fname in os.listdir(out):
        if not fname.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, fname)).metadata
        if md.num_rows == 0:
            continue
        n_rows += md.num_rows
        ts_idx = next(
            i
            for i in range(len(md.schema))
            if md.schema.column(i).name == "ts"
        )
        lo = min(
            md.row_group(g).column(ts_idx).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(ts_idx).statistics.max
            for g in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    overlaps = sum(
        1
        for i in range(len(ranges))
        for j in range(i + 1, len(ranges))
        if ranges[i][0] <= ranges[j][1] and ranges[j][0] <= ranges[i][1]
    )
    def us(dt) -> int:
        # pyarrow returns naive UTC datetimes; convert with integer
        # arithmetic (timegm + microsecond) — float .timestamp() would
        # both assume local time and round at the microsecond ulp
        if isinstance(dt, int):
            return dt
        import calendar

        return calendar.timegm(dt.timetuple()) * 1_000_000 + dt.microsecond

    min_us = min(us(r[0]) for r in ranges)
    max_us = max(us(r[1]) for r in ranges)
    return spark.createDataFrame(
        [(overlaps, n_rows, min_us, max_us)],
        "overlapping_pairs int, n_rows bigint, min_ts_us bigint, max_ts_us bigint",
    )


def _kafka_datasource_available() -> bool:
    """The kafka DataSource (org.apache.spark:spark-sql-kafka-0-10) ships
    outside the pyspark wheel — same classpath probe as spark-avro."""
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return any(j.startswith("spark-sql-kafka") for j in os.listdir(jars))
    except OSError:
        return False


def _kafka_bootstrap() -> str | None:
    """Broker address for the conditional Kafka round-trip: the jar alone
    is not enough to EXECUTE a produce/consume, so the op registers only
    where a reachable broker is declared."""
    return os.environ.get("KCSS_KAFKA_BOOTSTRAP") or None


_KAFKA_ORACLE = """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           TRUE AS keys_all_null
    FROM events GROUP BY event_type
    """

if _kafka_datasource_available() and _kafka_bootstrap():  # pragma: no cover
    @register("snk_kafka_topic", oracle=_KAFKA_ORACLE)
    def snk_kafka_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The reference's ACTUAL output surface: produce the event stream
        to a Kafka topic and read it back (VERDICT r8 item 6 / Missing
        item 1).  Record shape mirrors ServerSentEventsSourceTask
        .java:122-130 — NULL key (line 126-127: SourceRecord is built
        with no key schema / no key), topic from config
        (ServerSentEventsSourceConnectorConfig.java:33-34), value = the
        serialized event envelope.  keys_all_null pins the null-key
        contract through the round trip.

        CONDITIONAL (registry.CONDITIONAL_OPS, outside the declared
        total): needs both the spark-sql-kafka jar on the classpath and
        a reachable broker in $KCSS_KAFKA_BOOTSTRAP — neither exists in
        this sandbox (no network), so the op auto-joins the surface the
        day the environment can actually attest it, exactly like
        s_transform_with_state's protobuf gate.  Until then the
        topic-named memory/parquet sinks (snk_memory_topic,
        snk_sse_landing) carry the semantics in-gate.

        100 TB posture: the produce is a map-only format sink (one
        producer per task, Kafka partitioning by round-robin on null
        keys — exactly the reference's distribution, Tier 1 #9); the
        consume is a source scan partitioned by Kafka partition."""
        bootstrap = _kafka_bootstrap()
        topic = f"kcss-events-{os.getpid()}"
        e = load_table(spark, sf_dir, "events")
        rec = e.select(
            F.lit(None).cast("binary").alias("key"),  # reference: null key
            F.to_json(
                F.struct("event_id", "event_type", "user_id", "value")
            ).cast("binary").alias("value"),
        )
        (
            rec.write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("topic", topic)
            .save()
        )
        back = (
            spark.read.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("subscribe", topic)
            .option("startingOffsets", "earliest")
            .load()
        )
        parsed = back.select(
            "key",
            F.from_json(
                F.col("value").cast("string"),
                "event_id long, event_type string, user_id long, value double",
            ).alias("r"),
        )
        return parsed.groupBy(F.col("r.event_type").alias("event_type")).agg(
            F.count("*").alias("n"),
            F.sum(F.col("r.value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.every(F.col("key").isNull()).alias("keys_all_null"),
        )


@register(
    "snk_manifest_commit",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def snk_manifest_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic multi-file publish via a manifest — the transactional
    landing pattern (Iceberg/Delta's core idea, minimally): the writer
    lands N data files plus an UNCOMMITTED extra, then atomically
    publishes a manifest listing ONLY the committed files; readers
    resolve the manifest and read exactly its file list, so a crashed
    or concurrent writer's orphan files are invisible — no
    eventually-consistent directory listing in the read path.  Here:
    documents land 4-way, a poison orphan file (a duplicate copy of
    the full table, which WOULD double every count if listed) lands
    beside them, the manifest (JSON lines: path, row count) commits
    only the 4; the re-read aggregates per source and must match the
    straight-SQL oracle — equality proves orphan invisibility AND
    no-loss in one check.

    100 TB posture: the manifest is O(n_files) metadata written once
    by the committing task (a rename-into-place on an object store);
    readers do a bounded manifest scan + an exact file-list read
    (spark.read.parquet(*paths) — no directory listing of a
    million-file landing zone, the same reason the table formats
    exist).  Data files stay partition-pruned parquet."""
    import json as _json

    base = scratch_dir("kcss_manifest")
    data = os.path.join(base, "data")
    shutil.rmtree(base, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    d.repartition(4).write.mode("overwrite").parquet(data)
    committed = sorted(
        os.path.join(data, f)
        for f in os.listdir(data)
        if f.endswith(".parquet")
    )
    # the orphan: a full duplicate landed beside the committed files —
    # a directory-listing reader would double-count everything
    orphan_dir = os.path.join(base, "orphan")
    d.coalesce(1).write.mode("overwrite").parquet(orphan_dir)
    orphan = next(
        os.path.join(orphan_dir, f)
        for f in os.listdir(orphan_dir)
        if f.endswith(".parquet")
    )
    shutil.copy(orphan, os.path.join(data, "orphan-uncommitted.parquet"))
    manifest = os.path.join(base, "manifest.jsonl")
    with open(manifest + ".tmp", "w") as fh:
        for p in committed:
            fh.write(_json.dumps({"path": p}) + "\n")
    os.rename(manifest + ".tmp", manifest)  # the atomic commit point
    with open(manifest) as fh:
        paths = [_json.loads(ln)["path"] for ln in fh]
    back = spark.read.parquet(*paths)
    return back.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Z-order clustered parquet sink
# ---------------------------------------------------------------------------

_ZORDER_BITS = 8  # 256 range buckets per dimension -> 16-bit Morton code
_ZORDER_FILES = 16


def _zorder_expr(xcol: str, ycol: str) -> str:
    """Morton (bit-interleaved) code of two {0..255} bucket columns as a
    SQL expression valid VERBATIM in both Spark SQL and DuckDB — bits
    extracted with FLOOR-division/modulo (no engine-specific bit ops),
    x owning the odd bit positions, y the even ones."""
    terms = []
    for i in range(_ZORDER_BITS):
        p = 1 << i
        terms.append(
            f"(CAST(FLOOR({xcol} / {p}) AS BIGINT) % 2) * {1 << (2 * i + 1)}"
        )
        terms.append(
            f"(CAST(FLOOR({ycol} / {p}) AS BIGINT) % 2) * {1 << (2 * i)}"
        )
    return " + ".join(terms)


def _parquet_file_ranges(out: str, cols: list[str]):
    """Per-file (min, max) footer statistics for each named column of a
    parquet directory, zero-row files skipped; returns
    ``[{col: (lo, hi)}, ...]`` plus the total row count."""
    import pyarrow.parquet as pq

    ranges = []
    n_rows = 0
    for fname in sorted(os.listdir(out)):
        if not fname.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, fname)).metadata
        if md.num_rows == 0:
            continue
        n_rows += md.num_rows
        idx = {
            md.schema.column(i).name: i for i in range(len(md.schema))
        }
        entry = {}
        for c in cols:
            st = [
                md.row_group(g).column(idx[c]).statistics
                for g in range(md.num_row_groups)
            ]
            entry[c] = (min(s.min for s in st), max(s.max for s in st))
        ranges.append(entry)
    return ranges, n_rows


def write_zorder_layout(spark: SparkSession, sf_dir: str, out: str):
    """Shared write path: lineitem (l_orderkey, l_partkey) bucketed to
    256 range cells per dimension off the exact global min/max, Morton
    z computed by the engine-shared expression, then
    repartitionByRange(z) + sortWithinPartitions(z) so every output
    file owns a DISJOINT z interval."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    mm = li.agg(
        F.min("l_orderkey").alias("xmin"),
        F.max("l_orderkey").alias("xmax"),
        F.min("l_partkey").alias("ymin"),
        F.max("l_partkey").alias("ymax"),
    ).first()
    nbk = 1 << _ZORDER_BITS
    zx = (
        f"CAST(FLOOR((l_orderkey - {mm['xmin']}) * {nbk}.0 "
        f"/ {mm['xmax'] - mm['xmin'] + 1}) AS BIGINT)"
    )
    zy = (
        f"CAST(FLOOR((l_partkey - {mm['ymin']}) * {nbk}.0 "
        f"/ {mm['ymax'] - mm['ymin'] + 1}) AS BIGINT)"
    )
    zed = li.select(
        "l_orderkey",
        "l_partkey",
        F.expr(_zorder_expr(zx, zy)).alias("z"),
    )
    (
        zed.repartitionByRange(_ZORDER_FILES, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )


@register(
    "snk_parquet_zorder",
    oracle=f"""
    WITH m AS (SELECT MIN(l_orderkey) AS xmin, MAX(l_orderkey) AS xmax,
                      MIN(l_partkey) AS ymin, MAX(l_partkey) AS ymax
               FROM lineitem),
    b AS (SELECT
        CAST(FLOOR((l_orderkey - m.xmin) * 256.0
                   / (m.xmax - m.xmin + 1)) AS BIGINT) AS zx,
        CAST(FLOOR((l_partkey - m.ymin) * 256.0
                   / (m.ymax - m.ymin + 1)) AS BIGINT) AS zy
      FROM lineitem CROSS JOIN m),
    zz AS (SELECT {_zorder_expr("zx", "zy")} AS z FROM b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(z) AS BIGINT) AS z_sum,
           CAST(MIN(z) AS BIGINT) AS z_min,
           CAST(MAX(z) AS BIGINT) AS z_max,
           CAST(0 AS INTEGER) AS z_overlapping_pairs
    FROM zz
    """,
)
def snk_parquet_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered parquet sink on (l_orderkey,
    l_partkey) — the MULTI-dimensional companion of snk_parquet_sorted:
    a single-key sorted layout prunes range scans on that one key and
    nothing else, while interleaving the bits of both range-bucketed
    keys gives every file a z interval that maps to a bounded rectangle
    of (orderkey, partkey) space, so footer min/max statistics prune
    predicates on EITHER dimension (the layout Delta/Iceberg OPTIMIZE
    ZORDER BY ships for exactly this reason; at 100 TB it is the
    difference between a two-column rectangle probe opening ~√F of the
    files and opening all of them).

    Cross-engine exactness: buckets come from exact global min/max in
    integer arithmetic, the Morton code is ONE shared expression text
    evaluated by both engines (_zorder_expr — FLOOR-div/mod bit
    extraction, no engine bit ops), and the oracle pins n_rows plus the
    full z checksum (sum/min/max).  The layout claim itself is pinned
    the snk_parquet_sorted way: written footers are read back with
    pyarrow and OVERLAPPING z-interval file pairs are counted — the
    oracle says exactly 0, so a shuffle regression that breaks the
    disjoint clustering fails the EXACT gate, not a perf chart.

    100 TB posture: one map-side min/max scan, one write pass whose
    only shuffle is the range exchange on z (the clustering itself);
    verification is footer metadata, not a data re-read, except the
    z checksum which is one narrow scan of the written files.
    tests/test_round13b_ops.py adds the behavioral half: a partkey-only
    probe rectangle skips most z-layout files while pruning NOTHING of
    an orderkey-sorted layout."""
    out = scratch_dir("kcss_snk_zorder")
    shutil.rmtree(out, ignore_errors=True)
    write_zorder_layout(spark, sf_dir, out)
    ranges, _ = _parquet_file_ranges(out, ["z"])
    zr = [e["z"] for e in ranges]
    overlaps = sum(
        1
        for i in range(len(zr))
        for j in range(i + 1, len(zr))
        if zr[i][0] <= zr[j][1] and zr[j][0] <= zr[i][1]
    )
    back = spark.read.parquet(out)
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("z").cast("long").alias("z_sum"),
        F.min("z").cast("long").alias("z_min"),
        F.max("z").cast("long").alias("z_max"),
        F.lit(overlaps).cast("int").alias("z_overlapping_pairs"),
    )


@register(
    "src_csv_malformed",
    oracle="""
    SELECT CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN event_id % 97 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN event_id % 97 <> 0 THEN user_id END)
                AS BIGINT) AS uid_sum_good,
           CAST(MAX(CASE WHEN event_id % 97 = 0 THEN event_id END)
                AS BIGINT) AS max_corrupt_event_id,
           CAST(SUM(CASE WHEN event_id % 97 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropmalformed
    FROM events
    """,
)
def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row tolerance on the CSV source — the batch-read mirror
    of the reference's DLQ posture (`kafka-connect-sse.properties:6-7`
    errors.tolerance=all + dead letter queue, already mirrored on the
    streaming side by s_foreachbatch_dlq): a deterministic 1/97 of the
    serialized rows get an unparseable user_id, and the PERMISSIVE read
    must (a) keep every row, (b) null ONLY the malformed field while
    retaining the fields that did parse (max_corrupt_event_id proves
    the partial parse), and (c) capture the raw line in
    _corrupt_record for the quarantine path.  A second read in
    DROPMALFORMED mode pins the other tolerance policy: exactly the
    good rows survive.

    Cross-engine exactness: the corruption rule (event_id % 97 = 0) is
    arithmetic on exact BIGINTs, so the oracle reproduces every count
    from the clean events table without parsing anything.

    100 TB posture: serialization, parse, and both aggregations are
    map-side single-scan; the corrupt-record column is per-row state,
    not a driver-side collect — quarantine at any scale is a filtered
    WRITE of the already-parsed frame."""
    out = scratch_dir("kcss_src_csv_malformed")
    shutil.rmtree(out, ignore_errors=True)
    e = load_table(spark, sf_dir, "events")
    lines = e.select(
        F.concat_ws(
            ",",
            F.col("event_id"),
            F.when(F.col("event_id") % 97 == 0, F.lit("XX")).otherwise(
                F.col("user_id").cast("string")
            ),
            F.col("event_type"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(out)
    schema = (
        "event_id BIGINT, user_id BIGINT, event_type STRING, "
        "_corrupt_record STRING"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    agg = back.agg(
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_good"),
        F.sum(
            F.when(
                F.col("_corrupt_record").isNull(), F.col("user_id")
            )
        )
        .cast("long")
        .alias("uid_sum_good"),
        F.max(
            F.when(
                F.col("_corrupt_record").isNotNull(), F.col("event_id")
            )
        )
        .cast("long")
        .alias("max_corrupt_event_id"),
    )
    # CSV gotcha, pinned here on purpose (measured on this engine):
    # DROPMALFORMED only drops a row when the malformed column is in
    # the required projection — a COUNT(*) takes a no-parse fast path
    # and drops NOTHING, and even COUNT(event_type) leaves the bad rows
    # in because user_id is never converted.  The tolerance policy
    # silently depends on which columns the query touches, so the
    # surviving-row count below references user_id itself (survivors
    # always have it non-null — the only nullable path was the
    # malformed one that DROPMALFORMED removes).
    dropped = (
        spark.read.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING"
        )
        .option("mode", "DROPMALFORMED")
        .csv(out)
        .agg(F.count("user_id").cast("long").alias("n_dropmalformed"))
    )
    return agg.crossJoin(dropped)


@register(
    "snk_manifest_time_travel",
    oracle="""
    SELECT 1 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents WHERE doc_id % 3 <> 0
    UNION ALL
    SELECT 2 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    """,
)
def snk_manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel on the manifest-committed landing
    (snk_manifest_commit's second act, the other half of the
    table-format idea): version 1 commits the initial files, version 2
    commits an APPEND — a new manifest listing v1's files plus the new
    ones, while v1's manifest stays immutable on disk — and a reader
    handed either manifest reconstructs exactly that snapshot.  Data
    files are never rewritten or deleted between versions; a snapshot
    IS its manifest (Iceberg's central invariant).  The op reads BOTH
    versions back and emits their censuses; the oracle derives the
    same two snapshots from the doc_id % 3 split, so a reader that
    sees v2 files through the v1 manifest (or loses v1 files in the
    append) fails the EXACT gate.

    100 TB posture: an append commits O(new files) data + one metadata
    file; time travel costs a manifest scan, never a data copy —
    the same economics at any snapshot count."""
    import json as _json

    base = scratch_dir("kcss_manifest_tt")
    shutil.rmtree(base, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    v1dir = os.path.join(base, "v1")
    v2dir = os.path.join(base, "v2")
    d.filter(F.col("doc_id") % 3 != 0).repartition(4).write.mode(
        "overwrite"
    ).parquet(v1dir)
    d.filter(F.col("doc_id") % 3 == 0).repartition(2).write.mode(
        "overwrite"
    ).parquet(v2dir)

    def _files(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    manifests = {}
    v1_files = _files(v1dir)
    v2_files = v1_files + _files(v2dir)  # append: v1 files unchanged
    for ver, paths in ((1, v1_files), (2, v2_files)):
        mp = os.path.join(base, f"manifest-v{ver}.jsonl")
        with open(mp + ".tmp", "w") as fh:
            for p in paths:
                fh.write(_json.dumps({"path": p}) + "\n")
        os.rename(mp + ".tmp", mp)  # atomic commit per snapshot
        manifests[ver] = mp

    out = None
    for ver, mp in manifests.items():
        with open(mp) as fh:
            paths = [_json.loads(ln)["path"] for ln in fh]
        snap = (
            spark.read.parquet(*paths)
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("doc_id").cast("long").alias("id_sum"),
            )
            .select(
                F.lit(ver).cast("int").alias("version"),
                "n_docs",
                "id_sum",
            )
        )
        out = snap if out is None else out.unionAll(snap)
    return out
