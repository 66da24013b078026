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
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str,
    headline: bool = False,
    doc: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name, fn, oracle, headline, doc or (fn.__doc__ or ""))
        return fn

    return deco


def _driver_history() -> tuple[frozenset[str], tuple[str, ...]]:
    """Derive sweep-ordering state from the in-repo driver artifacts.

    Reads every ``CORRECTNESS_r*.json`` at the repo root (the driver's
    per-round DuckDB-oracle sweep output) and keeps, per query name, the
    LATEST record. Returns ``(green_at_latest, red_at_latest)``:

    * ``green_at_latest`` — names whose latest driver row succeeded
      (exact hash match, or a by-design rows-only run recorded as
      ``err == "no_oracle"``). These already carry a hard-signal row, so
      a capped sweep should spend its budget elsewhere.
    * ``red_at_latest`` — names whose latest row errored or mismatched,
      then the ``recheck_requests`` names whose latest row predates the
      round they name. These sort immediately after the headliners so
      an already-landed fix converts into a green hard-signal row next
      round (a frozen hand-typed set previously filed red rows under
      "seen", which deprioritized exactly the names that most needed a
      re-check).

    Never-checked names are in neither set and keep their place in the
    fresh round-robin queue.
    """
    import json
    import re
    from pathlib import Path

    last: dict[str, dict] = {}
    last_round: dict[str, int] = {}
    root = Path(__file__).resolve().parents[1]
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", path.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            for name, rec in rows.items():
                if isinstance(rec, dict):
                    last[name] = rec
                    last_round[name] = rnd

    def is_red(rec: dict) -> bool:
        if rec.get("err") not in (None, "no_oracle"):
            return True
        return any(
            rec.get(k) is False
            for k in ("rows_match", "schema_match", "hash_match")
        )

    reds = tuple(sorted(n for n, rec in last.items() if is_red(rec)))
    greens = frozenset(n for n, rec in last.items() if not is_red(rec))
    # One-round recheck requests: names whose local test pins were
    # materially tightened in round N, so their pre-N driver greens no
    # longer prove the CURRENT assertion under the driver's JVM/BLAS.
    # Pinned to the sweep front until a driver row from round >= N
    # exists, then they expire back into the ordinary green pool —
    # never hand-removed, never pinned forever.
    recheck_requests = {
        # r7 (commit ca458bd) moved these two from property pins to
        # exact seeded confusion-cell pins; latest driver green is r6.
        "ml_logreg_confusion": 8,
        "ml_random_forest_report": 8,
        # r13 optimization restructured these queries (single
        # token/coding pass, window-count sizes, F.expr minhash, one
        # all-cells candidate table), but the capped sweep's
        # green-at-latest ordering rotated every one of them OUT of
        # driver re-verification exactly when it was rewritten
        # (VERDICT r13 item 1): their newest driver rows predate the
        # rewrites. Pin until a round >= 14 row exists at the
        # post-rewrite code.
        "dsir_importance_weights": 14,
        "prefix_filter_jaccard_pairs": 14,
        "dedup_minhash_lsh": 14,
        # r14 optimization touched these query paths (see
        # OPTIMIZATION_r14.md); same rule — driver row at or after the
        # round that changed the builder.
        "ml_cv_grid_search": 14,
        "markov_removal_attribution": 14,
        "bradley_terry_event_strengths": 14,
        "smote_rebalance_counts": 14,
        "ml_smote_then_train": 14,
        "simhash_fingerprints": 14,
        "simhash_hamming_stats": 14,
        # r15: every superstep loop moved onto operators.iterate (lazy
        # cuts, last superstep uncut) and graph.py's builders share one
        # co-purchase edge helper
        "graph_personalized_pagerank": 15,
        "graph_kcore_peel": 15,
        "graph_bfs_layers": 15,
        "graph_triangle_count": 15,
        "graph_degree_distribution": 15,
        "graph_label_propagation": 15,
        "graph_modularity": 15,
        "adamic_adar_link_prediction": 15,
        "adamic_adar_capped": 15,
        "textrank_keywords": 15,
        "mmr_diversified_topk": 15,
        "retrieval_rerank_pipeline": 15,
        "neardup_clusters": 15,
        "dedup_keep_canonical": 15,
        # r16: one-task markov walk, parsed ucb1 pivot, lifted pagerank step
        "markov_stationary_distribution": 16,
        "markov_entropy_rate": 16,
        "ucb1_bandit_replay": 16,
        "graph_pagerank": 16,
        # r17: yardstick, fit sample and codebooks memoized per session
        "ann_ivf_kmeans": 17,
        "ann_lsh_recall_exact": 17,
        "embedding_pq_quantization": 17,
        "ivf_nprobe_recall_curve": 17,
        "ivf_pq_search": 17,
        "ndcg_retrieval_eval": 17,
        "pq_adc_search": 17,
        # r18: corpus count from parquet-mr footers via catalog.table_rows
        "simhash128_hamming_stats": 18,
    }
    stale = tuple(
        sorted(
            n
            for n, since in recheck_requests.items()
            if last_round.get(n, 0) < since
        )
    )
    reds = reds + tuple(n for n in stale if n not in reds)
    return greens, reds


# Names with a hard-signal green row at their latest driver check, and
# names red at their latest check (re-verified immediately after the
# headliners). Both derived from CORRECTNESS_r*.json — never hand-typed.
_SEEN_IN_DRIVER_ROUNDS, _RECHECK_FIRST = _driver_history()


def all_queries() -> dict[str, Query]:
    """Registry in sweep order: headline queries whose latest driver
    check is missing or red first, then other names red at their latest
    driver check (re-verify the fixes), then queries the driver has
    NEVER checked (round-robin across source modules), then the
    already-green remainder — including green-at-latest headliners,
    which carry multiple consecutive hard-signal rows and are
    benchmarked every round via bench.py, so a capped sweep spends its
    budget on fresh names instead of re-proving them. An externally
    capped correctness sweep walks this dict in order. Both orderings
    derive from CORRECTNESS_r*.json at import."""
    _ensure_loaded()
    from itertools import zip_longest

    pinned = [
        q
        for q in _REGISTRY.values()
        if q.headline and q.name not in _SEEN_IN_DRIVER_ROUNDS
    ]
    pinned += [
        _REGISTRY[n]
        for n in _RECHECK_FIRST
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

    rest = [q for q in _REGISTRY.values() if q.name not in pinned_names]
    fresh = round_robin([q for q in rest if q.name not in _SEEN_IN_DRIVER_ROUNDS])
    seen = round_robin([q for q in rest if q.name in _SEEN_IN_DRIVER_ROUNDS])
    ordered = pinned + fresh + seen
    return {q.name: q for q in ordered}


def query_fns() -> dict[str, QueryFn]:
    return {n: q.builder for n, q in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {n: q.oracle for n, q in all_queries().items()}


def headline_queries() -> dict[str, Query]:
    return {n: q for n, q in all_queries().items() if q.headline}


_loaded = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _loaded
    if _loaded:
        return
    # Import order = registration order = the order an externally capped
    # correctness sweep walks the registry. Flagship/headline modules come
    # first so a bounded sweep always covers the surface that matters most;
    # r1's sweep stopped at 50 queries and missed 6 of 8 headline queries
    # because this list was alphabetical.
    from data_warehouse_data_mining_spark.operators import relational  # noqa: F401
    from data_warehouse_data_mining_spark.operators import tpch  # noqa: F401
    from data_warehouse_data_mining_spark.operators import windows  # noqa: F401
    from data_warehouse_data_mining_spark.operators import text  # noqa: F401
    from data_warehouse_data_mining_spark.operators import similarity  # noqa: F401
    from data_warehouse_data_mining_spark.operators import dedup  # noqa: F401
    from data_warehouse_data_mining_spark.streaming import windows as stream_windows  # noqa: F401
    from data_warehouse_data_mining_spark.streaming import joins as stream_joins  # noqa: F401
    from data_warehouse_data_mining_spark.streaming import stateful as stream_stateful  # noqa: F401
    from data_warehouse_data_mining_spark.operators import advanced  # noqa: F401
    from data_warehouse_data_mining_spark.operators import mining  # noqa: F401
    from data_warehouse_data_mining_spark.operators import mining_stats  # noqa: F401
    from data_warehouse_data_mining_spark.operators import mining_policy  # noqa: F401
    from data_warehouse_data_mining_spark.operators import mining_causal  # noqa: F401
    from data_warehouse_data_mining_spark.operators import mining_ratings  # noqa: F401
    from data_warehouse_data_mining_spark.operators import graph  # noqa: F401
    from data_warehouse_data_mining_spark.operators import sketches  # noqa: F401
    from data_warehouse_data_mining_spark.operators import quality  # noqa: F401
    from data_warehouse_data_mining_spark.operators import multimodal  # noqa: F401
    from data_warehouse_data_mining_spark.operators import association  # noqa: F401
    from data_warehouse_data_mining_spark.operators import udfs  # noqa: F401
    from data_warehouse_data_mining_spark.operators import privacy  # noqa: F401
    from data_warehouse_data_mining_spark.operators import scd  # noqa: F401
    from data_warehouse_data_mining_spark.operators import packing  # noqa: F401
    from data_warehouse_data_mining_spark.operators import ranking  # noqa: F401
    from data_warehouse_data_mining_spark.operators import curation  # noqa: F401
    from data_warehouse_data_mining_spark.ml import queries as ml_queries  # noqa: F401
    from data_warehouse_data_mining_spark import pipelines  # noqa: F401

    _loaded = True
