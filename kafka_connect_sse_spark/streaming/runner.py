"""Run-to-completion harness for streaming operators.

The driver's correctness gate collects plain DataFrames, so each streaming
operator here runs its StreamingQuery to completion (availableNow) against a
file stream of the fixture events and returns the materialized result from a
memory sink — real Structured Streaming execution with a deterministic,
batch-equivalent answer (the STREAM check class of SURVEY.md §2.4, upgraded
to EXACT where an oracle is expressible).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

from ..io import _convert_nanos, fixture_bytes, table_path

_counter = itertools.count()
_PARTS_KEY = "spark.sql.shuffle.partitions"
# staged input bytes per state partition (see run_to_memory)
_STATE_PARTITION_BYTES = 1 << 20


def _staged_events_dir(sf_dir: str) -> str:
    """Spark's file stream source requires a *directory*; stage the single
    events.parquet into a scratch dir (hardlink when possible, copy
    otherwise), keyed by sf_dir so each scale factor stages once per
    process.  Pid-keyed via scratch_dir: a fixed-name dir shared across
    processes would let a reader observe another process's mid-copy
    partial file.  Hard-linking the read-only fixture is safe here —
    nothing ever utimes or mutates the staged file."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..io import scratch_dir

    src = table_path(sf_dir, "events")
    key = hashlib.md5(src.encode()).hexdigest()[:10]
    d = scratch_dir(f"kcss_events_stream_{key}")
    dst = os.path.join(d, "events.parquet")
    if not os.path.exists(dst):
        os.makedirs(d, exist_ok=True)
        try:
            os.link(src, dst)
        except OSError:
            # stage via a caller-unique temp name + atomic rename: readers
            # never see a partial copy, and two concurrent stagers can't
            # interleave writes into a shared temp file (each publishes a
            # complete copy; last os.replace wins) (ADVICE r6)
            # "." prefix: Spark's file listing ignores dot-files, so a
            # reader that lists the directory mid-copy can't pick up the
            # partial temp as an input file
            fd, tmp_path = tempfile.mkstemp(dir=d, prefix=".", suffix=".staging")
            os.close(fd)
            try:
                shutil.copyfile(src, tmp_path)
                os.replace(tmp_path, dst)
            except BaseException:
                if os.path.exists(tmp_path):
                    os.unlink(tmp_path)
                raise
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture events table as a bounded file stream (schema from the
    batch reader; single parquet file ⇒ one deterministic micro-batch).
    The raw schema carries ts as bigint nanos (see io._convert_nanos)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    sdf = spark.readStream.schema(raw_schema).parquet(_staged_events_dir(sf_dir))
    return _convert_nanos(sdf)


def run_to_memory(
    sdf: DataFrame,
    sf_dir: str,
    mode: str = "complete",
    timeout_s: float = 120.0,
) -> DataFrame:
    """Execute a streaming DataFrame with trigger(availableNow) into a
    uniquely named memory sink; return the sink contents as a batch DF.

    State partitions are sized to the staged input: every stateful
    operator instantiates its state stores once per shuffle partition,
    and each store pays a commit every micro-batch whatever its row
    count, so a bounded stream over a small file spends its time in
    store commits when it inherits the session's core-count default.
    The rule is clamp(ceil(input bytes / 1 MiB), 1, session value),
    where the input is the events fixture every caller streams: one
    partition per MiB is where the measured per-op times stop favouring
    fewer partitions (SCALE.md, "Streaming state-partition sizing").  A
    query copies the session conf when it starts, so the value is set
    around start() only; partitioning never changes which rows a query
    emits."""
    spark = sdf.sparkSession
    name = f"stream_sink_{next(_counter)}"
    prev_parts = spark.conf.get(_PARTS_KEY)
    paced = -(-fixture_bytes(sf_dir, "events") // _STATE_PARTITION_BYTES)
    spark.conf.set(_PARTS_KEY, str(min(max(paced, 1), int(prev_parts))))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(_PARTS_KEY, prev_parts)
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()
    return spark.table(name)
