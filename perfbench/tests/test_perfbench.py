"""Tests of the benchmark's own code (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import math
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench.eventlog import parse_file, parse_lines  # noqa: E402
from perfbench.stats import (  # noqa: E402
    geomean_of_medians,
    iter_pass_orders,
    tail,
    tail_level,
    union_length,
)

SMALL_LOG = Path(__file__).parent / "data" / "small_eventlog.json"


# -- tail percentile: at least 10 samples beyond ----------------------------


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]  # 1..40
    level, value = tail(samples, n_min=40)
    assert level == 75.0
    assert value == 30.0
    assert sum(x > value for x in samples) == 10


def test_tail_level_is_fixed_by_guaranteed_count():
    # a run with an extra pass reports the same percentile, and still
    # has at least 10 samples beyond it
    samples = [float(i) for i in range(1, 61)]
    level, value = tail(samples, n_min=40)
    assert level == 75.0
    assert sum(x > value for x in samples) >= 10


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail_level(10)


def test_tail_level_survives_lost_samples():
    # a failed query removes samples; the percentile stays the planned one
    level, value = tail([float(i) for i in range(1, 31)], n_min=40)
    assert level == 75.0
    assert value == 23.0


# -- geomean over per-query medians -----------------------------------------


def test_geomean_uses_each_query_median_once():
    # a's median is 4 (the 100 s outlier is ignored); b has one sample of 9
    per_query = {"a": [1.0, 100.0, 4.0], "b": [9.0]}
    assert geomean_of_medians(per_query) == pytest.approx(6.0)


def test_geomean_weighs_queries_equally():
    # more samples of the slow query do not pull the result towards it
    few = {"fast": [1.0], "slow": [16.0]}
    many = {"fast": [1.0], "slow": [16.0] * 9}
    assert geomean_of_medians(few) == geomean_of_medians(many) == pytest.approx(4.0)


# -- the seed determines the query order ------------------------------------

NAMES = [f"q{i}" for i in range(8)]


def _passes(seed, n=3):
    return list(itertools.islice(iter_pass_orders(NAMES, seed), n))


def test_same_seed_same_order():
    assert _passes(7) == _passes(7)


def test_other_seed_other_order():
    assert _passes(7) != _passes(8)


def test_each_pass_runs_every_query_once():
    for order in _passes(3, n=5):
        assert sorted(order) == sorted(NAMES)


# -- event-log parser ---------------------------------------------------------


def test_recorded_log_counts():
    # recorded from a two-query traced session at sf0.001: pricing_summary
    # (first use of its tables, so one parquet-footer job at build time)
    # and graph_pagerank (28 eager superstep jobs at build time)
    log = parse_file(str(SMALL_LOG))
    pr_build = log.group("graph_pagerank:build")
    assert (pr_build.jobs, pr_build.stages, pr_build.tasks) == (28, 28, 43)
    pr_exec = log.group("graph_pagerank:exec")
    assert (pr_exec.jobs, pr_exec.stages, pr_exec.tasks) == (1, 1, 1)
    ps_exec = log.group("pricing_summary:exec")
    assert (ps_exec.jobs, ps_exec.stages, ps_exec.tasks) == (2, 2, 2)
    assert ps_exec.shuffle_bytes > 0
    assert log.group("pricing_summary:build").jobs == 1
    assert log.group("no_such_query:exec").jobs == 0
    total_tasks = sum(g.tasks for g in log.groups.values())
    assert total_tasks == SMALL_LOG.read_text().count('"Event":"SparkListenerTaskEnd"')
    assert log.cache_write_bytes > 0  # pagerank persists its superstep state


def _ev(**kw):
    return json.dumps(kw, separators=(",", ":"))


def _synthetic_log():
    """One job (0..10 s) with a 2-task stage and a 1-task stage, and a
    second job in another group with no tasks at all."""

    def task(stage, launch, finish, run_ms, cpu_ns):
        return _ev(
            Event="SparkListenerTaskEnd",
            **{
                "Stage ID": stage,
                "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {
                    "Executor Run Time": run_ms,
                    "Executor CPU Time": cpu_ns,
                    "JVM GC Time": 0,
                    "Disk Bytes Spilled": 0,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
                },
            },
        )

    def stage_done(stage, sub, done):
        return _ev(
            Event="SparkListenerStageCompleted",
            **{"Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0, "Submission Time": sub, "Completion Time": done}},
        )

    return [
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q:exec"}}),
        task(0, 1000, 3000, 2000, 1_000_000_000),
        task(0, 2000, 5000, 3000, 1_000_000_000),
        stage_done(0, 900, 5000),
        task(1, 7000, 8000, 1000, 500_000_000),
        stage_done(1, 6500, 8000),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 10000}),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 11000, "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "q:build"}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 11500}),
    ]


def test_idle_time_is_job_wall_not_covered_by_tasks():
    log = parse_lines(_synthetic_log())
    g = log.group("q:exec")
    # tasks cover [1,5] and [7,8] of the 10 s job: 5 s covered, 5 s idle
    assert g.idle_s == pytest.approx(5.0)
    assert (g.jobs, g.stages, g.tasks) == (1, 2, 3)
    assert g.task_s == pytest.approx(6.0)
    assert g.cpu_s == pytest.approx(2.5)
    assert g.single_task_stage_s == pytest.approx(1.5)  # stage 1 only
    assert g.job_wall_s == pytest.approx(10.0)
    b = log.group("q:build")
    assert (b.jobs, b.tasks) == (1, 0)
    assert b.idle_s == pytest.approx(0.5)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    assert math.isclose(union_length([(0.5, 1.0), (0.0, 0.25)]), 0.75)


# -- printed metric names match BENCHMARK.json -------------------------------


def _declared(kind):
    doc = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in doc[kind]}


def test_end_to_end_names_and_units_match_benchmark_json():
    from perfbench.run import end_to_end
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS["iterative_ml"]
    samples = {q: [1.0 + i + p for p in range(w.min_passes)] for i, q in enumerate(w.queries)}
    n = len(w.queries) * w.min_passes
    run = {"samples": samples, "attempted": n, "failed": 0, "passes": w.min_passes, "window_s": 30.0, "first_query_at": 0.0}
    cycles = [{"session": 1.0, "catalog": 0.5, "total": 1.5}] * 3
    metrics, _ = end_to_end(w, cycles, run, jvm_mb=1000.0, driver_mb=200.0)
    assert {k: u for k, (_, u) in metrics.items()} == _declared("end_to_end")
    assert all(v > 0 for v, _ in metrics.values())


def test_per_layer_names_and_units_match_benchmark_json():
    from perfbench.eventlog import EventLog
    from perfbench.run import per_layer
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS["warehouse_olap"]
    rows = [{"query": q, "build": 0.1, "plan": 0.05, "exec": 0.5, "wall": 0.66} for q in w.queries]
    cycles = [{"session": 1.0, "catalog": 0.5, "total": 1.5}] * 3
    metrics = per_layer(cycles, rows, ref_pass_s=6.0, log=EventLog())
    assert {k: u for k, (_, u) in metrics.items()} == _declared("per_layer")
