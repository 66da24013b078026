"""The benchmark's workloads: which registered queries run, at which scale.

Each workload is a closed loop with one client: its queries run one
after another on one SparkSession, each as the registry builder call
followed by a noop-sink write. The seed only permutes the query order
of each pass; the data is the engine's read-only scale-factor set.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # scale-factor directory suffix, e.g. "0.1" -> sf0.1
    queries: tuple[str, ...]
    # timed passes every run completes, whatever --seconds says: the
    # tail percentile is fixed from len(queries) * min_passes samples.
    # An odd query count puts the pooled median inside one query's
    # samples instead of in the gap between two queries' costs.
    min_passes: int
    why: str
    # untimed noop passes after verification; the JVM-only queries keep
    # getting faster for a few passes after their first (JIT)
    warmup_passes: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="warehouse_olap",
            sf="0.1",
            queries=(
                "pricing_summary",
                "revenue_by_nation",
                "regional_supplier_volume",
                "national_market_share",
                "cube_order_stats",
                "topk_per_group",
                "running_total",
                "tumbling_window_counts",
                "scd2_build_history",
            ),
            min_passes=3,
            warmup_passes=1,
            why=(
                "JVM scan, shuffle, join and aggregate work with no build-time "
                "jobs and no Python workers: moves with execution, catalog and "
                "planner changes and bypasses the build and UDF layers"
            ),
        ),
        Workload(
            name="iterative_ml",
            sf="0.01",
            queries=(
                "graph_pagerank",
                "markov_stationary_distribution",
                "ucb1_bandit_replay",
            ),
            min_passes=4,
            why=(
                "fixed-point loops whose cost is build-time eager jobs and "
                "checkpointed superstep state, plus recurrences replayed in "
                "pandas Python workers; execution is a small share"
            ),
        ),
    )
}
