"""Coverage for the rescan-audit gate (tools/plan_audit.py) — the
institutional detector for the AQE no-cross-stage-reuse trap, now run
inside tools/sf1_gate.py before every sweep (VERDICT r9 item 5)."""

import importlib.util
import os

import pytest

spec = importlib.util.spec_from_file_location(
    "plan_audit",
    os.path.join(
        os.path.dirname(__file__), "..", "tools", "plan_audit.py"
    ),
)
plan_audit = importlib.util.module_from_spec(spec)
spec.loader.exec_module(plan_audit)


def test_known_good_op_has_single_scan(spark):
    """q_agg_groupby is the canonical one-pass aggregate: exactly one
    FileScan of lineitem in its final adaptive plan.  If this pin ever
    breaks, the audit's counting (not the op) is the first suspect."""
    from kafka_connect_sse_spark.registry import queries

    df = queries()["q_agg_groupby"](spark, "/root/testdata/sf0.001")
    df.collect()
    counts = plan_audit.scan_counts(df)
    assert counts == {"lineitem": 1}


def test_allowlisted_two_branch_op_passes_gate(spark):
    """q_set_union_all reads orders on both branches BY CONSTRUCTION —
    the audit must flag its 2 scans and the gate must accept them via
    the allowlist."""
    from kafka_connect_sse_spark.registry import queries

    df = queries()["q_set_union_all"](spark, "/root/testdata/sf0.001")
    df.collect()
    counts = plan_audit.scan_counts(df)
    assert counts.get("orders", 0) == 2
    flagged = {"q_set_union_all": {"orders": 2}}
    assert plan_audit.violations(flagged) == []


def test_synthetic_rescan_fails_gate(spark):
    """A deliberate unfused double-scan under a name NOT in the
    allowlist must produce a violation — this is the shape the gate
    exists to catch (a new op silently recomputing a relation)."""
    from pyspark.sql import functions as F

    path = "/root/testdata/sf0.001/lineitem.parquet"
    a = spark.read.parquet(path).groupBy("l_returnflag").count()
    b = (
        spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    df = a.join(b, "l_returnflag")
    df.collect()
    counts = plan_audit.scan_counts(df)
    assert counts.get("lineitem", 0) >= 2
    flagged = {"q_synthetic_new_op": counts}
    bad = plan_audit.violations(flagged)
    assert len(bad) == 1 and "q_synthetic_new_op" in bad[0]


def test_violation_when_allowlisted_op_worsens():
    """An allowlisted op regressing PAST its documented scan count is a
    violation too — the allowlist pins maxima, not blanket immunity."""
    bad = plan_audit.violations({"q_agg_mad": {"lineitem": 5}})
    assert len(bad) == 1 and "q_agg_mad" in bad[0]


@pytest.mark.parametrize("op", sorted(plan_audit.ALLOWLIST))
def test_allowlist_names_real_operators(op):
    """Every allowlist key must be a registered operator — a renamed op
    must take its allowlist row along or the gate silently loses it."""
    from kafka_connect_sse_spark.registry import queries

    assert op in queries()


def test_scale_toc_is_fresh():
    """SCALE.md's generated index (VERDICT r12 item 8) must list every
    ## heading — re-running the generator must be a no-op."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "tools/gen_scale_toc.py"],
        cwd="/root/repo",
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, (
        "SCALE.md TOC is stale — run tools/gen_scale_toc.py and commit: "
        + r.stdout
        + r.stderr
    )


@pytest.mark.parametrize("module_ts, flagged", [(200, True), (50, False)])
def test_dump_older_than_its_module_is_flagged(tmp_path, monkeypatch,
                                               module_ts, flagged):
    """The freshness gate resolves each op to the module that defines it
    (through the register() wrapper) and flags an after-dump committed
    before that module's last commit.  Every other file, registry.py
    included, reads as older than the dump, so the gate can only fire
    by finding operators/dedup.py."""
    rd = tmp_path / "r14"
    rd.mkdir()
    (rd / "x_containment_dedup_after.txt").write_text("plan\n")

    def commit_ts(path):
        if path.endswith("_after.txt"):
            return 100
        if path.endswith(os.path.join("operators", "dedup.py")):
            return module_ts
        return 10

    monkeypatch.setattr(plan_audit, "_git_commit_ts", commit_ts)
    stale = plan_audit.dump_freshness_violations(str(tmp_path))
    if flagged:
        assert len(stale) == 1, stale
        assert "x_containment_dedup_after.txt" in stale[0]
        assert "operators/dedup.py" in stale[0]
    else:
        assert stale == []
