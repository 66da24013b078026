"""The command lines of bench.py and tools/driver_sweep.py, checked
without starting Spark."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("value", ["abc", "0", "2.5"])
def test_bad_bench_runs_exits_before_spark(value):
    """A run count that is not an integer >= 1 is rejected with exit 2
    and a message naming the variable. JAVA_HOME points nowhere, so a
    session start would fail with a different exit code instead."""
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_RUNS=value,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        JAVA_HOME="/nonexistent",
    )
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode == 2, p.stderr[-2000:]
    assert "SPARK_GRAFT_BENCH_RUNS" in p.stderr
    assert p.stdout == ""


def test_driver_sweep_unknown_only_name_exits_before_spark():
    """An ``--only`` name that is not registered is rejected with exit 2
    and a message naming it, instead of sweeping nothing and passing.
    JAVA_HOME points nowhere, so a session start would fail with a
    different exit code instead."""
    env = dict(os.environ, JAVA_HOME="/nonexistent")
    p = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "driver_sweep.py"),
            "/root/testdata/sf0.001",
            "--only",
            "pricing_summary,no_such_query",
        ],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode == 2, p.stderr[-2000:]
    assert "no_such_query" in p.stderr
    assert "pricing_summary" not in p.stderr
    assert p.stdout == ""
