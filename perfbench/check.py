"""Correctness and failure accounting for one benchmark run.

Every timed op execution is one attempt; it fails when it raised, or when
its result's canonical hash differs from the DuckDB oracle's.  In
`sse_land` every sent event is one attempt; it fails when its id never
landed or landed more than once, and every landed id that was never sent is
one more failure.
"""

from __future__ import annotations

import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def oracle_connection(data_dir: str):
    """A DuckDB connection with one view per fixture table in `data_dir`."""
    import duckdb

    from kafka_connect_sse_spark.io import TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def oracle_hashes(data_dir: str, ops) -> dict[str, str]:
    """Canonical hash of each op's oracle result, computed in DuckDB over
    the same parquet files the op read."""
    from kafka_connect_sse_spark.registry import oracle_sql

    # imported after the package: check_correctness prepends its own
    # source path to sys.path
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_correctness import canon

    oracles = oracle_sql()
    con = oracle_connection(data_dir)
    try:
        return {op: canon(con.execute(oracles[op]).df())[2] for op in ops}
    finally:
        con.close()


def count_op_failures(results: dict[str, list[dict]], expected: dict[str, str]):
    """(attempted, failed, names of failing ops) over every timed execution."""
    attempted = failed = 0
    bad = set()
    for op, recs in results.items():
        for rec in recs:
            attempted += 1
            if "error" in rec or rec.get("hash") != expected[op]:
                failed += 1
                bad.add(op)
    return attempted, failed, sorted(bad)


def id_failures(landed_ids: np.ndarray, sent: int) -> dict[str, int]:
    """Missing, duplicated and unexpected landings of SSE ids 0..sent-1."""
    ids, counts = np.unique(np.asarray(landed_ids, dtype=np.int64), return_counts=True)
    in_range = (ids >= 0) & (ids < sent)
    return {
        "missing": sent - int(in_range.sum()),
        "duplicated": int((counts[in_range] - 1).sum()),
        "unexpected": int(counts[~in_range].sum()),
    }
