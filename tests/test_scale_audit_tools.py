"""Regression tests for the scale-audit harness internals (tools/
scale_audit.py): the pass-on-retry detector and the protocol's
task-attempt recording. These are the audit artifact's evidentiary chain
(VERDICT r8 items 1-2): under local[N,4] a transient task failure is
retried silently and must surface as a non-zero ``failed_tasks`` entry
instead of only inflated wall time."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.scale_audit import _failed_tasks_for_group, _run_with_watchdog, _task_attempts


def test_failed_tasks_detects_pass_on_retry(spark):
    """A task that fails on attempt 0 and passes on attempt 1 (the
    invisible class) must be counted for its job group."""
    import pytest

    if _task_attempts(spark) < 2:
        # SPARK_GRAFT_TASK_ATTEMPTS=1 (or bare local[N]) makes the
        # deliberate attempt-0 failure fatal — the scenario under test
        # cannot exist without retries
        pytest.skip("task retries disabled on this session's master")

    def flaky(spark_, _sf_dir):
        from pyspark import TaskContext

        def fail_once(it):
            tc = TaskContext.get()
            if tc.partitionId() == 0 and tc.attemptNumber() == 0:
                raise RuntimeError("transient (deliberate test failure)")
            yield from it

        rdd = spark_.sparkContext.parallelize(range(100), 4).mapPartitions(fail_once)
        return spark_.createDataFrame(rdd.map(lambda x: (x,)), "v: long")

    group = "audit-test:flaky"
    lint = {"window": [], "broadcast": []}
    _run_with_watchdog(spark, flaky, "/root/testdata/sf0.001", 300, lint=lint, job_group=group)
    assert _failed_tasks_for_group(spark, group) >= 1

    # and a clean query reports 0 for ITS group (no cross-contamination)
    def clean(spark_, _sf_dir):
        return spark_.range(100).selectExpr("sum(id) as s")

    group2 = "audit-test:clean"
    _run_with_watchdog(spark, clean, "/root/testdata/sf0.001", 300, job_group=group2)
    assert _failed_tasks_for_group(spark, group2) == 0


def test_task_attempts_from_live_master(spark):
    """Protocol recording reads the LIVE master string (ADVICE r8), not
    the env: local[N,M] → M; bare local[N] / 'local' → 1; any other
    master (local-cluster, spark://) → spark.task.maxFailures."""
    got = _task_attempts(spark)
    master = spark.sparkContext.master
    if master == "local":
        assert got == 1
    elif master.startswith("local["):
        inner = master[len("local[") : master.index("]")]
        parts = [p.strip() for p in inner.split(",")]
        assert got == (int(parts[1]) if len(parts) > 1 else 1)
    else:
        assert got == int(spark.conf.get("spark.task.maxFailures", "4"))


def test_spill_dir_resolution(spark, monkeypatch, tmp_path):
    """ADVICE r10: disk-headroom floors must measure the filesystem Spark
    actually spills to — SPARK_LOCAL_DIRS env > spark.local.dir conf >
    /tmp, first entry of a multi-dir value."""
    from tools.scale_audit import _dir_bytes, _free_mb, _spill_dir

    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    base = _spill_dir(spark)  # conf (if the session sets one) or /tmp
    assert base  # non-empty path either way

    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/mnt/spill1,/mnt/spill2")
    assert _spill_dir(spark) == "/mnt/spill1"

    # helpers used by the preflight: real numbers on real paths
    assert _free_mb("/tmp") > 0
    (tmp_path / "x.bin").write_bytes(b"\0" * 4096)
    assert _dir_bytes(str(tmp_path)) >= 4096


def test_bench_dir_keeps_partial_duckdb_timings(sf_dir):
    """One failing DuckDB twin drops only its own timing in bench.py."""
    from bench import HEADLINE, _bench_dir

    good, bad = HEADLINE[0], HEADLINE[1]
    osql = {good: "SELECT count(*) FROM region", bad: "SELECT no_such_column FROM region"}
    out = _bench_dir(None, {}, osql, sf_dir)
    assert list(out["duckdb"]) == [good]
