"""The benchmark's failure accounting can fail: corrupted results are counted.

    python3 -m pytest perfbench/test_check.py -q     (from the checkout root)
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

from check import (  # noqa: E402
    count_op_failures,
    id_failures,
    oracle_connection,
    oracle_hashes,
)


def test_op_results_count_errors_and_mismatches():
    expected = {"a": "h1", "b": "h2"}
    good = {"a": [{"hash": "h1"}, {"hash": "h1"}], "b": [{"hash": "h2"}]}
    assert count_op_failures(good, expected) == (3, 0, [])
    bad = {
        "a": [{"hash": "h1"}, {"hash": "corrupt"}],
        "b": [{"error": "Traceback ..."}],
    }
    assert count_op_failures(bad, expected) == (3, 2, ["a", "b"])


def test_landed_ids_count_lost_duplicated_and_unexpected():
    ok = {"missing": 0, "duplicated": 0, "unexpected": 0}
    assert id_failures(np.arange(10), 10) == ok
    assert id_failures(np.arange(1, 10), 10) == {**ok, "missing": 1}
    assert id_failures(np.r_[np.arange(10), 3, 3], 10) == {**ok, "duplicated": 2}
    assert id_failures(np.r_[np.arange(10), 10], 10) == {**ok, "unexpected": 1}


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("data")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_fixture.py"),
         "--sf", "0.001", "--seed", "7", "--out", str(out)],
        check=True, stdout=subprocess.DEVNULL,
    )
    return str(out)


def test_corrupted_oracle_result_is_counted(fixture_dir):
    """The real check path: the oracle's own result passes, and the same
    result with one value changed fails."""
    from check_correctness import canon

    from kafka_connect_sse_spark.registry import oracle_sql

    op = "q_agg_groupby"
    expected = oracle_hashes(fixture_dir, [op])
    con = oracle_connection(fixture_dir)
    result = con.execute(oracle_sql()[op]).df()
    con.close()
    assert count_op_failures({op: [{"hash": canon(result)[2]}]}, expected)[1] == 0

    corrupted = result.copy()
    col = corrupted.columns[-1]
    corrupted.loc[0, col] = corrupted.loc[0, col] + 1
    assert count_op_failures({op: [{"hash": canon(corrupted)[2]}]}, expected)[1] == 1
