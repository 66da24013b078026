"""Shared fixtures: one tuned SparkSession per test session, plus a
DuckDB connection with the testdata views registered (the oracle
comparator's own, tools/driver_sweep.py::duckdb_views)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_warehouse_data_mining_spark.session import get_session
from tools.driver_sweep import duckdb_views

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        driver_memory="8g",
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb_views(SF_SMALL)
    yield con
    con.close()


@pytest.fixture(scope="session")
def bound_registry_dfs(spark):
    """ONE construction pass over every registered builder at sf0.001 —
    building a DataFrame triggers analysis plus any eager work (KMeans
    codebook fits, eager localCheckpoints), which is the expensive part.
    Shared by the type lints (test_oracle_types) and the registry-wide
    plan lints (test_plans); before r10 each file paid its own full
    ~3-minute binding pass. Values: bound DataFrame or an error string."""
    from concurrent.futures import ThreadPoolExecutor

    from data_warehouse_data_mining_spark import registry

    def bind(item):
        name, q = item
        try:
            return name, q.builder(spark, SF_SMALL)
        except Exception as exc:  # builder itself must bind
            return name, f"builder failed to bind: {exc!r}"

    # threaded (r12): binding is py4j/analysis latency, not compute —
    # eager fit work (localCheckpoints, codebook fits) releases the GIL
    # and the fit caches are deterministic+idempotent under races
    with ThreadPoolExecutor(max_workers=8) as ex:
        return dict(ex.map(bind, registry.all_queries().items()))


# Suite-time guard (VERDICT r12 #8): the r12 threading work brought the
# full suite from 18:31 to ~9 min; this warning keeps that win from
# silently eroding as the registry grows. A warning, not a failure —
# this host has hypervisor-level co-tenancy (SCALING.md r8), so
# wall-clock asserts would flake on machine noise.
SUITE_BUDGET_SEC = 15 * 60


def pytest_sessionstart(session):
    import time

    session._suite_t0 = time.monotonic()


def pytest_sessionfinish(session, exitstatus):
    import time

    t0 = getattr(session, "_suite_t0", None)
    if t0 is None:
        return
    elapsed = time.monotonic() - t0
    # only meaningful for (near-)full runs; targeted -k/-x runs skip it
    if session.testscollected >= 500 and elapsed > SUITE_BUDGET_SEC:
        import warnings

        warnings.warn(
            f"full suite took {elapsed/60:.1f} min (> "
            f"{SUITE_BUDGET_SEC//60} min budget) — check for a new "
            "per-test Spark-job hotspot or a serialized oracle pass "
            "(see the r12 ThreadPool fix in conftest/bound_registry_dfs)",
            stacklevel=0,
        )
