"""Plan inspection & 100 TB-posture helpers (SURVEY.md §4.2).

Catalyst gives this engine predicate pushdown, column pruning, join
selection, partial aggregation, AQE re-planning and codegen for free — the
job of this module is to *verify* those properties on our plans (used by
tests and bench) and to provide the two knobs Catalyst can't infer:
explicit broadcast choice and skew salting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_has(df: DataFrame, needle: str) -> bool:
    return needle in formatted_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters line of the scan — empty string if nothing pushed."""
    for line in formatted_plan(df).splitlines():
        if "PushedFilters" in line:
            return line.strip()
    return ""


def read_schema_width(df: DataFrame) -> int:
    """Number of columns the parquet scan actually reads (column pruning
    check): count fields in the scan's ReadSchema."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            _, _, schema = line.partition("struct<")
            return schema.count(":") if schema else 0
    return -1


def uses_broadcast_join(df: DataFrame) -> bool:
    return plan_has(df, "BroadcastHashJoin")


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Distinct WholeStageCodegen stages ('codegen id : N' in formatted
    explain; the '*' operator prefix marks membership)."""
    import re

    return len(set(re.findall(r"codegen id : (\d+)", formatted_plan(df))))


def salted(df: DataFrame, key: str, n_salts: int = 16, salt_col: str = "_salt"):
    """Skew mitigation: spread each hot `key` over n_salts sub-keys.  Join
    the salted fact against a dimension replicated n_salts ways on
    (key, _salt).  The fixture event/wiki distributions are Zipfian
    (FIXTURES.md) — at 100 TB the hot keys dominate a naive shuffle.

    The salt hashes (key, per-row monotonically_increasing_id) so every ROW
    of a hot key draws its own salt — with a partition-level component
    alone, a hot key inside one input partition would collapse onto a
    single salt value (exactly the small-scan case spread() exists for),
    defeating the mitigation.  Salt values are not stable across
    repartitionings or task retries, and need not be: the dim side is
    replicated across every salt value, so any salt assignment joins
    correctly — a retry re-salts and at worst rebalances."""
    return df.withColumn(
        salt_col,
        F.pmod(
            F.xxhash64(F.col(key), F.monotonically_increasing_id()),
            F.lit(n_salts),
        ),
    )


def replicate_for_salt(dim: DataFrame, n_salts: int = 16, salt_col: str = "_salt"):
    """Dimension-side expansion matching `salted`."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias(salt_col)
    return dim.select("*", salts)


def _scan_partitions(df: DataFrame) -> int:
    """Estimate how many partitions the file scan under `df` will produce,
    from the file listing alone — Spark's own FilePartition split math
    (maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    totalBytes / minPartitionNum)), then greedy packing of size-desc
    splits) over `df.inputFiles()` sizes.  `df.rdd.getNumPartitions()`
    answers the same question exactly but forces a full physical-plan
    conversion per call on the driver (VERDICT r13 item 7); this probe
    needs only the analyzed plan's (session-cached) file index.  Sizes
    come from the local filesystem; a non-local path (real deployments,
    where tables have thousands of splits and spread() is a no-op by
    design) returns a large count so the caller skips the repartition.
    Memoized per (session, file set, split confs) — fixtures are
    immutable."""
    sc = df.sparkSession.sparkContext
    conf = df.sparkSession.conf
    # byte confs read back as set ("128MB", "134217728b"): parse them with
    # Spark's own suffix rules; both have engine defaults
    to_bytes = sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    max_split = to_bytes(conf.get("spark.sql.files.maxPartitionBytes"))
    open_cost = to_bytes(conf.get("spark.sql.files.openCostInBytes"))
    min_parts = conf.get("spark.sql.files.minPartitionNum", None) or conf.get(
        "spark.sql.leafNodeDefaultParallelism", None
    )
    min_parts = int(min_parts) if min_parts else sc.defaultParallelism
    files = tuple(sorted(df.inputFiles()))
    key = (id(df.sparkSession), files, max_split, open_cost, min_parts)
    hit = _SCAN_PARTS_CACHE.get(key)
    if hit is not None:
        return hit
    sizes = []
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        if not os.path.isfile(path):
            _SCAN_PARTS_CACHE[key] = 1 << 30  # non-local: treat as plenty
            return _SCAN_PARTS_CACHE[key]
        sizes.append(os.path.getsize(path))
    total = sum(s + open_cost for s in sizes)
    split_bytes = min(max_split, max(open_cost, total // max(min_parts, 1)))
    splits = []
    for s in sizes:
        off = 0
        while off < s:
            splits.append(min(split_bytes, s - off))
            off += split_bytes
    splits.sort(reverse=True)
    n, cur = 0, 0
    for s in splits:
        if cur + s > split_bytes and cur > 0:
            n += 1
            cur = 0
        cur += s + open_cost
    if cur > 0:
        n += 1
    _SCAN_PARTS_CACHE[key] = max(n, 1)
    return _SCAN_PARTS_CACHE[key]


_SCAN_PARTS_CACHE: dict[tuple, int] = {}


def spread(df: DataFrame, key: str):
    """Raise a DataFrame to the session's default parallelism when the
    source read produced fewer partitions (a single small parquet file
    scans as ONE task, serializing every downstream map until the first
    shuffle).  Hash-partitions on `key`; no-op when the input already has
    enough partitions, so at real scale (thousands of input splits) this
    adds nothing."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if _scan_partitions(df) < target:
        return df.repartition(target, F.col(key))
    return df
