"""Operator/query registry: pairs every implemented operator with an ANSI-SQL
DuckDB oracle (where expressible) for the driver's correctness gate.

Every operator from SURVEY.md §2.4 lands here via the @register decorator:

    @register("<op_id>", oracle="SELECT ...")
    def <op_id>(spark, sf_dir): ...

Conventions that keep the cross-engine value-hash stable (FIXTURES.md §6):
  * every computed column is aliased identically in Spark and oracle SQL;
  * money-style double aggregates go through DECIMAL(18,2) so partial-sum
    order cannot perturb low bits (exact in both engines);
  * non-exact float aggregates (stddev/corr/cosine) are rounded explicitly;
  * timestamps are emitted as DATE or as formatted strings — never raw
    timestamps — so session-timezone handling can't skew the comparison;
  * top-k orderings always carry a unique tiebreak key.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# submodules that register queries on import
_MODULES = (
    "kafka_connect_sse_spark.operators.relational",
    "kafka_connect_sse_spark.operators.joins",
    "kafka_connect_sse_spark.operators.aggregates",
    "kafka_connect_sse_spark.operators.windows",
    "kafka_connect_sse_spark.operators.setops",
    "kafka_connect_sse_spark.functions.scalar",
    "kafka_connect_sse_spark.operators.dedup",
    "kafka_connect_sse_spark.operators.similarity",
    "kafka_connect_sse_spark.operators.text",
    "kafka_connect_sse_spark.operators.multimodal",
    "kafka_connect_sse_spark.operators.pipeline",
    "kafka_connect_sse_spark.operators.udfs",
    "kafka_connect_sse_spark.streaming.queries",
    "kafka_connect_sse_spark.streaming.landing",
    "kafka_connect_sse_spark.operators.sinks",
)

# Operators that register only when an optional dependency imports
# (streaming/queries.py gates s_transform_with_state on protobuf;
# operators/sinks.py gates snk_kafka_topic on the spark-sql-kafka jar +
# a declared broker).  They are EXCLUDED from SURVEY.md's declared
# total, the COVERAGE.md inventory, and the sf1 gate's completeness
# compare — one constant so all three consumers (tools/gen_coverage.py,
# tools/sf1_gate.py, tests/test_operators.py) cannot drift (ADVICE r7
# item 1).
CONDITIONAL_OPS = frozenset({"s_transform_with_state", "snk_kafka_topic"})

_loaded = False


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        importlib.import_module(mod)
    _loaded = True


def register(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # driver hands us its own session; pin runtime-settable conf
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn  # inspect.unwrap() finds the op's module
        if name in QUERIES:
            raise ValueError(f"duplicate query id {name}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# The driver's correctness gate checks a bounded 50-entry prefix of the
# registry.  Every registered operator holds a driver-green CORRECTNESS
# row, so the window's job is EVIDENCE FRESHNESS (rotation policy,
# VERDICT r4 item 1): new/modified operators lead (their old records
# cover old code), then the operators holding the OLDEST driver record,
# topped up from the next-oldest cohort — so no record ages past ~3
# rounds.
#
# ROUND 13 ON — the rotation is COMPUTED, not hand-listed (VERDICT r12
# item 7).  ``window_order()`` derives the registry ordering from the
# committed CORRECTNESS_r*.json driver records at the repo root:
#   (a) every op with NO green driver record leads (new ops this round
#       are recordless by construction, so they seat automatically);
#   (b) the rest follow oldest-newest-record-first, alphabetical within
#       a round — the same convention every hand-built window used.
# tests/test_window_rotation.py re-derives the expected window from the
# record files independently and pins the 50-entry prefix, so omitting
# a recordless op is a structural test failure, not a review item.
WINDOW_SIZE = 50


def driver_record_rounds() -> dict[str, int]:
    """op id -> newest round holding a fully-green driver record.

    Reads the committed ``CORRECTNESS_r*.json`` files at the repo root
    (the driver's own attestation artifacts).  A record counts as green
    when rows+schema matched, the value-hash matched where checked
    (rows-only ops carry no hash), and no error was recorded."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    newest: dict[str, int] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for op, rec in data.items():
            if (
                isinstance(rec, dict)
                and rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match") is not False
                and not rec.get("err")
            ):
                if newest.get(op, -1) < rnd:
                    newest[op] = rnd
    return newest


def window_order(ops) -> list[str]:
    """Rotation policy (VERDICT r12 item 7): recordless ops first, then
    oldest-driver-record-first; alphabetical within each group."""
    newest = driver_record_rounds()
    return sorted(ops, key=lambda op: (newest.get(op, -1), op))


def _ordered(d: dict) -> dict:
    return {k: d[k] for k in window_order(d)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    load_all()
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    load_all()
    return _ordered(ORACLE)
