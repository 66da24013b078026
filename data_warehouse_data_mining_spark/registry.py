"""Named-query registry.

Every operator the engine claims (SURVEY.md §2) is registered here as a
named query: a builder ``(spark, sf_dir) -> DataFrame`` plus its oracle
SQL string that DuckDB runs over the same parquet tables. The driver
compares the two (row-count + schema + order-insensitive value-hash), so
builders and oracles must agree on column NAMES and on deterministic
VALUES:

* every computed column is aliased identically on both sides;
* every double is rounded (sums: 2 decimals, ratios/avgs: 6) so that
  floating-point summation order cannot flip the hash;
* timestamps are emitted as formatted strings (session TZ is UTC);
* top-k queries order by a unique key chain so LIMIT is deterministic.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    builder: QueryFn
    oracle: str
    headline: bool = False


_REGISTRY: dict[str, Query] = {}

# Every module that registers queries, in the order an externally capped
# correctness sweep walks them. Headliners and the round-robin's modules
# sort by this list, not by which module a process imported first
# (operator modules import each other). Flagship/headline modules come
# first so a bounded sweep always covers the surface that matters most;
# r1's sweep stopped at 50 queries and missed 6 of 8 headline queries
# because this list was alphabetical.
_MODULES = tuple(f"data_warehouse_data_mining_spark.{m}" for m in (
    "operators.relational", "operators.tpch", "operators.windows",
    "operators.text", "operators.similarity", "operators.dedup",
    "streaming.windows", "streaming.joins", "streaming.stateful",
    "operators.advanced", "operators.mining", "operators.mining_stats",
    "operators.mining_policy", "operators.mining_causal",
    "operators.mining_ratings", "operators.graph", "operators.sketches",
    "operators.quality", "operators.multimodal", "operators.association",
    "operators.udfs", "operators.privacy", "operators.scd",
    "operators.packing", "operators.ranking", "operators.curation",
    "ml.queries", "pipelines",
))


def register(name: str, oracle: str, headline: bool = False) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name, fn, oracle, headline)
        return fn

    return deco


def source_digests(module_text: str) -> dict[str, str]:
    """``{query_name: sha1}`` for every ``@register("name", ...)`` def in
    one module's source text. A digest covers the def's text from its
    first decorator line (so the oracle SQL too) to its last line, plus
    the text of every top-level function, class or assignment of the
    same module that the def references, followed transitively, in
    sorted order. Helpers imported from other modules are not followed:
    an edit there changes no digest of the queries that call them."""
    import ast
    import hashlib

    if "@register" not in module_text:
        return {}
    tree = ast.parse(module_text)
    lines = module_text.splitlines()

    def text(node: ast.stmt) -> str:
        first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        return "\n".join(lines[first - 1 : node.end_lineno])

    top: dict[str, list[ast.stmt]] = {}
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = getattr(node, "targets", [getattr(node, "target", None)])
            bound = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
        else:
            bound = [node.name] if hasattr(node, "name") else []
        for name in bound:
            top.setdefault(name, []).append(node)

    uses = {
        node: {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}
        for node in tree.body
    }
    digests: dict[str, str] = {}
    for node in tree.body:
        names = [
            d.args[0].value
            for d in getattr(node, "decorator_list", [])
            if isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
        ]
        if not names:
            continue
        seen, todo = {node}, [node]
        while todo:
            fresh = {d for n in uses[todo.pop()] for d in top.get(n, []) if d not in seen}
            seen |= fresh
            todo += fresh
        helpers = sorted(text(d) for d in seen if d is not node)
        body = "\n".join([text(node)] + helpers)
        digests.update(dict.fromkeys(names, hashlib.sha1(body.encode()).hexdigest()))
    return digests


def _driver_history() -> tuple[frozenset[str], tuple[str, ...]]:
    """``(green, recheck)`` from ``DRIVER_DIGESTS.json`` (generated by
    ``tools/coverage_state.py``: each name's latest driver row, its
    colour and its :func:`source_digests` digest in the checked tree).
    ``green``: green at the digest the package files have now.
    ``recheck``: red at the latest row, or green at a digest that has
    since changed. Never-checked names are in neither; without the file
    every name is never-checked."""
    import json
    from pathlib import Path

    pkg = Path(__file__).resolve().parent
    try:
        recorded = json.loads((pkg.parent / "DRIVER_DIGESTS.json").read_text())["queries"]
    except (OSError, ValueError):
        recorded = {}
    current: dict[str, str] = {}
    for path in pkg.rglob("*.py"):
        current.update(source_digests(path.read_text()))
    green = frozenset(
        n for n, rec in recorded.items() if rec["green"] and rec["digest"] == current.get(n)
    )
    return green, tuple(sorted(set(recorded) - green))


def all_queries() -> dict[str, Query]:
    """Registry in sweep order: headline queries not green at their
    current code first, then the other names red at their latest driver
    check or edited since it, then queries the driver has NEVER checked
    (round-robin across source modules), then the green remainder —
    including green headliners, which bench.py runs every round. An
    externally capped correctness sweep walks this dict in order, so it
    spends its budget on changed and fresh names. The ordering derives
    from DRIVER_DIGESTS.json and the package source."""
    green, recheck = _ensure_loaded()
    from itertools import zip_longest

    rank = {m: i for i, m in enumerate(_MODULES)}
    by_rank = sorted(_REGISTRY.values(), key=lambda q: rank[q.builder.__module__])
    pinned = [q for q in by_rank if q.headline and q.name not in green]
    pinned += [
        _REGISTRY[n]
        for n in recheck
        if n in _REGISTRY and _REGISTRY[n] not in pinned
    ]
    pinned_names = {q.name for q in pinned}

    def round_robin(queries: list[Query]) -> list[Query]:
        by_module: dict[str, list[Query]] = {}
        for q in queries:
            by_module.setdefault(q.builder.__module__, []).append(q)
        out: list[Query] = []
        for wave in zip_longest(*by_module.values()):
            out.extend(q for q in wave if q is not None)
        return out

    rest = [q for q in by_rank if q.name not in pinned_names]
    fresh = round_robin([q for q in rest if q.name not in green])
    seen = round_robin([q for q in rest if q.name in green])
    ordered = pinned + fresh + seen
    return {q.name: q for q in ordered}


def query_fns() -> dict[str, QueryFn]:
    return {n: q.builder for n, q in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {n: q.oracle for n, q in all_queries().items()}


def headline_queries() -> dict[str, Query]:
    return {n: q for n, q in all_queries().items() if q.headline}


_history: tuple[frozenset[str], tuple[str, ...]] | None = None


def _ensure_loaded() -> tuple[frozenset[str], tuple[str, ...]]:
    """Import every module that registers queries, then derive the
    sweep-ordering state (once per process, on first use rather than at
    import: Spark's Python workers import operator modules and never
    need it)."""
    global _history
    if _history is not None:
        return _history
    for module in _MODULES:
        importlib.import_module(module)
    _history = _driver_history()
    return _history
