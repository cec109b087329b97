"""Fast driver-contract guards: every oracle pair must agree on COLUMN
NAMES (the sorted-by-name canon makes any alias drift a guaranteed hash
mismatch).  Checked WITHOUT executing either side — Spark schemas are
lazy and DuckDB DESCRIBE only binds — so this runs in seconds where the
full sweep takes minutes.  Side-effecting operators (sinks, streaming,
eager checkpoints) are skipped here; the full sweep covers them."""

import duckdb

from kafka_connect_sse_spark.io import TABLES
from kafka_connect_sse_spark.registry import oracle_sql, queries

SF = "/root/testdata/sf0.001"

# building these DataFrames runs jobs (streams, writes, eager checkpoints,
# iterative label propagation) — the correctness sweep covers them
EAGER = ("s_", "snk_", "src_")
EAGER_NAMES = {
    "x_dedup_near_minhash",  # eager localCheckpoint of the verified pairs
    "x_dedup_clusters",      # iterative label propagation runs jobs
    "x_dedup_keep_best",     # built on x_dedup_clusters
}


def test_every_oracle_column_set_matches(spark):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    qs, os_ = queries(), oracle_sql()
    mismatches = []
    checked = 0
    for name, sql in os_.items():
        if name.startswith(EAGER) or name in EAGER_NAMES:
            continue
        spark_cols = sorted(qs[name](spark, SF).columns)
        oracle_cols = sorted(
            r[0] for r in con.execute(f"DESCRIBE {sql}").fetchall()
        )
        if spark_cols != oracle_cols:
            mismatches.append((name, spark_cols, oracle_cols))
        checked += 1
    assert checked > 100
    assert not mismatches, mismatches


def test_ansi_mode_pinned_on_both_session_paths(spark):
    """Overflow semantics do not depend on the Spark default: get_spark and
    ensure_engine_conf both set spark.sql.ansi.enabled=true."""
    from kafka_connect_sse_spark.session import ensure_engine_conf, get_spark

    key = "spark.sql.ansi.enabled"
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        spark.conf.set(key, "false")
        assert get_spark(shuffle_partitions=parts).conf.get(key) == "true"
        spark.conf.set(key, "false")
        assert ensure_engine_conf(spark).conf.get(key) == "true"
    finally:
        spark.conf.set(key, "true")
