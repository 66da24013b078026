"""Smoke tests of the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 40, f"expected a broad operator surface, got {len(qs)}"
    assert set(oracles) <= set(qs)
    # every oracle is non-empty SQL
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in oracles.values())


def test_queries_callable_signature(spark):
    qs = entrymod.queries()
    name = sorted(qs)[0]
    df = qs[name](spark, "/root/testdata/sf0.001")
    assert df.columns


def test_adhoc_sql_surface(spark):
    from data_warehouse_data_mining_spark import sql as engine_sql

    df = engine_sql.run(
        spark,
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1",
        "/root/testdata/sf0.001",
    )
    rows = {r.o_orderstatus: r.n for r in df.collect()}
    assert sum(rows.values()) == 1500


def test_approx_sketches_close_to_exact(spark):
    """The sketch queries now emit their accuracy checks as property
    flags (exact counts oracle-pinned, flags assert the sketch bound);
    verify the exact columns match an independent computation and every
    flag is raised."""
    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.advanced import (
        approx_quantiles_profile,
    )
    from data_warehouse_data_mining_spark.operators.relational import (
        approx_distinct_parts,
    )

    sf = "/root/testdata/sf0.001"
    row = approx_distinct_parts(spark, sf).collect()[0]
    exact_distinct = load(spark, sf).lineitem.select("l_partkey").distinct().count()
    assert row.exact_parts == exact_distinct
    assert row.parts_within_5pct == 1
    assert row.orders_within_5pct == 1

    prof = approx_quantiles_profile(spark, sf).collect()
    assert prof
    for r in prof:
        assert r.median_rank_ok == 1, r
        assert r.p99_rank_ok == 1, r
        assert r.parts_within_6pct == 1, r


def test_money_sum_paths_agree(spark):
    """The fast fixed-point money sum and the decimal money sum must
    produce identical rounded values (both exact by construction)."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.relational import (
        money_sum,
        money_sum_fast,
    )

    li = load(spark, "/root/testdata/sf0.001").lineitem
    expr = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = li.groupBy("l_returnflag").agg(
        money_sum(expr, 4).alias("dec"),
        money_sum_fast(expr, 4).alias("fast"),
    )
    rows = out.collect()
    assert rows and all(r.dec == r.fast for r in rows)


def test_edited_builder_joins_driver_recheck_group(tmp_path):
    """A green builder edited since its driver check is re-verified right
    after the headliners; an unedited green one stays in the green pool.
    The edit is made in a copy of the package, whose registry is imported
    in a subprocess (no Spark session)."""
    import ast
    import json
    import shutil
    import subprocess

    from data_warehouse_data_mining_spark import registry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = "data_warehouse_data_mining_spark"
    shutil.copytree(
        os.path.join(repo, pkg), tmp_path / pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    shutil.copy(os.path.join(repo, "DRIVER_DIGESTS.json"), tmp_path)

    qs = registry.all_queries()
    green, recheck = registry._ensure_loaded()
    pool = [n for n in qs if n in green and not qs[n].headline]
    edited, kept = pool[0], pool[-1]
    fn = qs[edited].builder
    path = tmp_path / os.path.relpath(sys.modules[fn.__module__].__file__, repo)
    lines = path.read_text().splitlines(keepends=True)
    node = next(
        n for n in ast.parse("".join(lines)).body
        if isinstance(n, ast.FunctionDef) and n.name == fn.__name__
    )
    lines.insert(node.end_lineno, " " * node.body[-1].col_offset + "_ = None\n")
    path.write_text("".join(lines))

    probe = (
        "import json\n"
        "from data_warehouse_data_mining_spark.registry import all_queries\n"
        "print(json.dumps(list(all_queries())))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=tmp_path, check=True,
        env={**os.environ, "PYTHONPATH": str(tmp_path)},
        capture_output=True, text=True,
    )
    order = json.loads(out.stdout.splitlines()[-1])

    # headliners keep registry module order; the re-check group is
    # sorted by name
    head = [n for n in qs if qs[n].headline and n not in green]
    recheck = [n for n in sorted({n for n in recheck if n in qs} | {edited}) if n not in head]
    assert order[: len(head)] == head
    assert order[len(head) : len(head) + len(recheck)] == recheck
    assert kept in order[len(head) + len(recheck) :]


def test_all_queries_order_ignores_what_was_imported_first():
    """The sweep order follows the registry's module list, not which
    operator module a process imported first: importing operators.dedup
    (which imports operators.graph) before the registry leaves every
    position unchanged. Each order comes from a fresh subprocess."""
    import json
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def order(first_import: str) -> list[str]:
        probe = (
            "import json\n"
            f"{first_import}\n"
            "from data_warehouse_data_mining_spark.registry import all_queries\n"
            "print(json.dumps(list(all_queries())))\n"
        )
        out = subprocess.run(
            [sys.executable, "-c", probe], cwd=repo, check=True,
            env={**os.environ, "PYTHONPATH": repo},
            capture_output=True, text=True,
        )
        return json.loads(out.stdout.splitlines()[-1])

    assert order("import data_warehouse_data_mining_spark.operators.dedup") == order("")
