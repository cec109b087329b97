"""SparkSession factory tuned for this engine.

Defaults follow the 100 TB posture from SURVEY.md §4.2: AQE on (runtime
coalescing + skew-join splitting), Arrow on (vectorized Python interchange),
UTC session timezone (oracle comparability), shuffle partitions sized to the
local core count (on a real cluster: ~2-3x total executor cores, or rely on
AQE coalescing from a higher initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    n = os.environ.get("SPARK_GRAFT_CPUS")
    if n:
        return int(n)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "kafka-connect-sse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # overflow and invalid-cast behaviour is query semantics: pin it
        # rather than inherit the release's default
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the generated-class cache defaults to 100 entries; a session that
        # cycles through many distinct operators (the gate sweeps 148)
        # evicts the biggest classes (the 32-permutation minhash projection
        # takes seconds to Janino-recompile), which showed up as bimodal
        # 2-3x run-to-run variance on repeated invocations.  Classes are
        # small relative to the heap — keep them.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf this engine relies on to an externally
    created session (the correctness driver hands us its own session)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    return spark
