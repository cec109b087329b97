"""Table loading over the driver-generated parquet fixtures (TESTDATA.md).

Batch analogue of the reference's data model: the `events` table is the
landed form of the SSE stream (envelope-ish: event_type/id/ts + JSON `props`
payload), mirroring ServerSentEvent.java:29-34's event/id/data envelope; the
TPC-H-ish star tables back the relational operator surface (SURVEY.md §2.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scratch_dir(name: str) -> str:
    """Per-process scratch path for write-then-read operators.

    Pid-keyed so concurrent checker processes (e.g. sweeps at two SFs)
    can never rmtree/overwrite each other's live data, and
    atexit-cleaned so repeated runs don't accumulate multi-GB dead
    copies in /tmp (each sf1 sweep writes full-table copies through the
    sink tier).  Callers still rmtree the returned path themselves
    before writing — that handles reuse WITHIN one process.

    atexit never fires on SIGKILL/OOM (common in long sf1 sweeps), so on
    the first call per name we also best-effort sweep stale
    `{name}_<pid>` siblings whose owning pid is gone — otherwise each
    hard-killed run orphans its dir forever (new pid next run)."""
    import atexit
    import glob
    import shutil
    import tempfile

    tmp = tempfile.gettempdir()
    path = os.path.join(tmp, f"{name}_{os.getpid()}")
    if path not in _SCRATCH_REGISTERED:
        # exact-prefix match: sweeping for `name` must not touch scratch
        # dirs of LONGER names sharing the prefix (a sweep for
        # "kcss_sse" must skip "kcss_sse_multi_<pid>"), so the part
        # after `{name}_` has to be the bare pid (ADVICE r6)
        prefix = os.path.join(tmp, f"{name}_")
        for sibling in glob.glob(prefix + "*"):
            suffix = sibling[len(prefix):]
            if sibling == path or not suffix.isdigit():
                continue
            try:
                os.kill(int(suffix), 0)  # raises if pid is dead
            except ProcessLookupError:
                shutil.rmtree(sibling, ignore_errors=True)
            except (PermissionError, OSError):
                pass  # pid alive but not ours — leave it
        _SCRATCH_REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_SCRATCH_REGISTERED: set[str] = set()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _convert_nanos(df: DataFrame) -> DataFrame:
    """Normalize the fixture `events.ts` to a plain TIMESTAMP regardless of
    how the generator wrote it:

    * parquet TIMESTAMP(NANOS) — Spark's vectorized reader rejects it; with
      nanosAsLong it arrives as bigint nanoseconds, truncated here to
      microseconds (integer div — doubles would lose precision above 2^53 ns)
      to match DuckDB's ns→us truncation;
    * parquet timestamp[us] without UTC adjustment (the round-3 regeneration)
      — Spark 4 infers TIMESTAMP_NTZ, which watermarks/unix_micros reject;
      cast to TIMESTAMP.  Sessions here pin spark.sql.session.timeZone=UTC
      (registry.register / session.get_spark), so the cast preserves the
      wall-clock value and DuckDB string/date parity is unchanged."""
    out = df
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.typeName() == "long":
            out = out.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif f.dataType.typeName() == "timestamp_ntz":
            out = out.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return out


# Lazy-DataFrame cache: the fixture tables are read-only, so the (tiny,
# unevaluated) logical plan from read.parquet + _convert_nanos is reusable
# for the lifetime of the Spark session.  Without this every operator
# invocation re-lists the path and re-analyzes the schema (~90 ms/table on
# local[32]) — pure fixed overhead that a multi-table query pays 5x per
# run.  Keyed by id(spark) — not applicationId — because DataFrames are
# bound to the SparkSession that analyzed them: two sessions over one
# context (newSession(), different conf) must not share plans, and a
# plan also pins the file listing from first load (fixtures immutable).
# id() is safe as a key component: the session object itself can't be
# collected while its DataFrames sit in the cache values.
_DF_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key = (id(spark), os.path.abspath(sf_dir), name)
    df = _DF_CACHE.get(key)
    if df is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _convert_nanos(spark.read.parquet(table_path(sf_dir, name)))
        _DF_CACHE[key] = df
    return df


def fixture_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a fixture table (file or directory of part
    files) — the cheap input-size proxy `streaming.runner` sizes state
    partitions by."""
    p = table_path(sf_dir, name)
    if os.path.isfile(p):
        return os.path.getsize(p)
    total = 0
    for root, _dirs, files in os.walk(p):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each fixture table as a temp view so spark.sql() queries
    (grouping sets, UDTF lateral joins, ...) can address them by name."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
