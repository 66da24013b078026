"""Graph algorithms as iterative DataFrame programs.

Spark has no built-in graph operator set (GraphX is RDD/Scala-only,
GraphFrames is an external package), but the DataFrame expression of
the classic algorithms is exactly joins + aggregations in a loop:
PageRank and personalized PageRank over the supplier↔part co-supply
graph; triangles, degrees, label propagation, modularity, k-core, BFS
and Adamic-Adar over the part co-purchase graph. Every superstep loop
runs through ``operators.iterate.iterate``, which owns lineage
truncation; connected components lives in operators/dedup.py.

Determinism contract: ranks are kept in integer fixed-point (1e12
units) with floor division, so every engine computes bit-identical
ranks — a double-based PageRank accumulates sums in different orders
on different engines/partitionings and the last bits diverge, which
would make an exact oracle impossible. The DuckDB oracle unrolls the
same iterations as chained CTEs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.operators.iterate import iterate
from data_warehouse_data_mining_spark.registry import register

R_UNIT = 1_000_000_000_000  # 1.0 of rank mass, in fixed-point units
N_ITER = 10
TOP_K = 50


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase graph, one row per undirected edge
    ``(lo, hi)`` with lo < hi: parts bought together in ≥2 orders. A
    basket self-join on the order key, then a pair-count filter."""
    baskets = load(spark, sf_dir).lineitem.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct()
    a = baskets.alias("a")
    b = baskets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("lo"), F.col("b.item").alias("hi"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
        .select("lo", "hi")
    )


def _directed(e: DataFrame) -> DataFrame:
    """Both directions of every undirected ``(lo, hi)`` edge, as
    ``(src, dst)``."""
    return e.select(F.col("lo").alias("src"), F.col("hi").alias("dst")).unionAll(
        e.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
    )


def _contribution_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier↔part co-supply graph (suppliers even, parts odd
    node ids, from distinct lineitem pairs) as ONE persisted
    ``(src, dst, d)`` table, d = out-degree of src, pre-partitioned by
    src: a PageRank superstep joins the rank vector on src, so the edge
    side never re-exchanges inside the loop and the edges⋈deg join
    runs once, not once per superstep. The caller unpersists it."""
    pairs = (
        load(spark, sf_dir).lineitem.select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("l_partkey") * 2 + 1).alias("p"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("s").alias("src"), F.col("p").alias("dst")
    ).unionAll(pairs.select(F.col("p").alias("src"), F.col("s").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return (
        edges.join(deg, "src")
        # explicit partition count: an AQE-coalesced cached partitioning
        # would be whatever the tiny local run lands on and the loop
        # join could no longer rely on it; defaultParallelism scales
        # with the session, never a constant tuned to this box
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .persist()
    )


def _pagerank_superstep(
    contrib: DataFrame, ranks: DataFrame, base_add: int
) -> DataFrame:
    """One integer PageRank superstep: join the ``(node, rank)`` vector
    against the contribution table on src, floor-divide each rank by
    its out-degree, and re-aggregate by dst with damping 0.85 plus the
    scalar teleport share ``base_add``. Once materialized, the
    contribution table reports its src partitioning, so the only
    exchange is the one the dst aggregate needs; an unmaterialized
    cache reports none and the edge side would re-exchange."""
    return (
        contrib.join(ranks, F.col("src") == F.col("node"))
        .select("dst", F.expr("rank div d").alias("contrib"))
        .groupBy("dst")
        .agg(F.expr("85 * sum(contrib) div 100").alias("part_rank"))
        .select(
            F.col("dst").alias("node"),
            (F.lit(base_add) + F.col("part_rank")).alias("rank"),
        )
    )


def _pagerank_oracle() -> str:
    """Unroll the integer power iteration as chained CTEs (standard SQL
    forbids GROUP BY in a recursive term, so recursion can't express
    per-iteration re-aggregation — unrolling can)."""
    steps = []
    for i in range(N_ITER):
        steps.append(
            f"""r{i + 1} AS MATERIALIZED (
      SELECT e.dst AS node,
             CAST(base.b + (85 * CAST(sum(r{i}.rank // deg.d) AS BIGINT)) // 100
                  AS BIGINT) AS rank
      FROM r{i}
      JOIN deg   ON deg.src = r{i}.node
      JOIN edges e ON e.src = r{i}.node
      CROSS JOIN base
      GROUP BY e.dst, base.b
    )"""
        )
    unrolled = ",\n    ".join(steps)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT l_suppkey * 2 AS s, l_partkey * 2 + 1 AS p FROM lineitem
    ),
    edges AS MATERIALIZED (
      SELECT s AS src, p AS dst FROM pairs
      UNION ALL
      SELECT p AS src, s AS dst FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    base AS (SELECT CAST((15 * ({R_UNIT} // n)) // 100 AS BIGINT) AS b FROM nn),
    r0 AS (SELECT src AS node,
                  CAST({R_UNIT} // (SELECT n FROM nn) AS BIGINT) AS rank
           FROM deg),
    {unrolled}
    SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS kind,
           node // 2 AS entity_id,
           rank AS rank_fp
    FROM r{N_ITER}
    ORDER BY rank_fp DESC, node
    LIMIT {TOP_K}
    """


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier↔part co-supply graph (undirected
    bipartite, derived from distinct lineitem pairs), 10 power
    iterations, damping 0.85.

    Everything loop-invariant is hoisted out of the loop: the persisted
    contribution table, and the node count and teleport constants as
    driver SCALARS (one count(), recomputed every build) instead of a
    1-row crossJoin broadcast per superstep. Each superstep is then
    one join of the rank vector against the contribution table plus
    one aggregation — the two-shuffle step GraphX/Pregel executes per
    superstep. At 100 TB the rank vector is node-sized (≪ edges).
    Lineage is cut every 5 supersteps: 10 uncut supersteps make the
    final plan's optimization cost grow with the iteration count.
    Integer fixed-point (1e12 units, floor division) keeps every
    engine bit-identical — see module docstring; the scalar teleport
    constants use the same non-negative floor division in Python.
    """
    contrib_edges = _contribution_table(spark, sf_dir)
    # loop-invariant teleport scalars; the count also materializes the
    # cache so every superstep reads the pre-partitioned table
    n = contrib_edges.select("src").distinct().count()
    r0 = R_UNIT // n if n else 0
    base_add = (15 * r0) // 100
    ranks = (
        contrib_edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(r0).cast("long").alias("rank"))
    )

    ranks = iterate(
        ranks,
        lambda r, _: _pagerank_superstep(contrib_edges, r, base_add),
        N_ITER,
        cut_every=5,
    )
    ranks = ranks.localCheckpoint(eager=True)
    # final ranks are materialized above, so the scan-side cache can go
    contrib_edges.unpersist()
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "supplier")
            .otherwise("part")
            .alias("kind"),
            F.expr("node div 2").alias("entity_id"),
            F.col("rank").alias("rank_fp"),
        )
        .orderBy(F.col("rank_fp").desc(), (F.col("entity_id") * 2) + F.when(F.col("kind") == "part", 1).otherwise(0))
        .limit(TOP_K)
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    e AS (
      SELECT a.item AS lo, b.item AS hi
      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.lo = e1.hi
      JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT lo AS node FROM e UNION ALL SELECT hi FROM e
      ) GROUP BY node
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    )
    SELECT n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           n_triangles,
           n_wedges,
           CASE WHEN n_wedges > 0
                THEN round(3.0 * n_triangles / n_wedges, 6) ELSE 0.0
           END AS transitivity
    FROM agg CROSS JOIN tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global transitivity on the co-purchase graph
    (parts bought together in ≥2 orders) — the standard distributed
    graph benchmark after PageRank/CC, here in its ordered-edge form:
    every undirected edge is stored once as (lo < hi), so each triangle
    {a<b<c} is counted exactly once by joining (a,b)⋈(b,c) and
    semi-checking (a,c).

    Scale shape: the wedge join and the closing join are plain
    equi-joins on edge endpoints (two shuffles of the edge table — the
    MapReduce triangle algorithm of Suri & Vassilvitskii 2011 without
    the high-degree-vertex split, which drops in as a degree-ordered
    re-orientation if hub skew appears). Wedges come from the integer
    degree table; transitivity = 3Δ/wedges is one final exact-ratio
    division."""
    # edge table feeds three joins + the degree agg; materialize once
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    e1 = e.select(F.col("lo").alias("a_"), F.col("hi").alias("b_"))
    e2 = e.select(F.col("lo").alias("b_"), F.col("hi").alias("c_"))
    e3 = e.select(F.col("lo").alias("a_"), F.col("hi").alias("c_"))
    tri = (
        e1.join(e2, "b_")
        .join(e3, ["a_", "c_"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        e.select(F.col("lo").alias("node"))
        .unionAll(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    trans = F.when(
        F.col("n_wedges") > 0,
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
    ).otherwise(0.0)
    return (
        agg.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles", "n_wedges", trans.alias("transitivity"))
    )


@register(
    "graph_degree_distribution",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    e AS (
      SELECT a.item AS lo, b.item AS hi
      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT lo AS node FROM e UNION ALL SELECT hi FROM e
      ) GROUP BY node
    )
    SELECT d AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           round(ln(CAST(d AS DOUBLE)), 6) AS log_degree,
           round(ln(CAST(count(*) AS DOUBLE)), 6) AS log_count
    FROM deg
    GROUP BY d
    ORDER BY d
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph (same ≥2-support
    edge set as graph_triangle_count) with log-log columns — the
    power-law diagnostic that decides whether a graph workload needs
    hub-splitting (degree-ordered orientation, salting) before its
    joins. Two hash-aggs over the edge list; the distribution is
    degree-cardinality, tiny at any scale."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("lo").alias("node"))
        .unionAll(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.groupBy(F.col("d").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(
            "degree",
            "n_nodes",
            F.round(F.log(F.col("degree").cast("double")), 6).alias("log_degree"),
            F.round(F.log(F.col("n_nodes").cast("double")), 6).alias("log_count"),
        )
        .orderBy("degree")
    )


LP_ITER = 5


def _min_labels(edges: DataFrame) -> DataFrame:
    """``(node, label)`` after LP_ITER synchronized min-label supersteps
    over the directed edge list ``(src, dst)``: every node starts with
    its own id and each superstep adopts the minimum of its own and its
    neighbors' labels — one edges⋈labels join plus one min-aggregation,
    the Pregel message pattern. Lineage is cut every 2 supersteps."""

    def superstep(labels: DataFrame, _: int) -> DataFrame:
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr"))
        )
        return labels.join(nbr_min, labels.node == nbr_min.src).select(
            "node", F.least("label", "nbr").alias("label")
        )

    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").cast("long").alias("label")
    )
    return iterate(labels, superstep, LP_ITER, cut_every=2)


def _label_prop_oracle() -> str:
    """Unroll the synchronized min-label iterations as chained CTEs
    (same reason as the PageRank oracle: recursive SQL can't
    re-aggregate per iteration)."""
    steps = []
    for i in range(LP_ITER):
        steps.append(
            f"""l{i + 1} AS MATERIALIZED (
      SELECT l.node AS node,
             CAST(least(l.label, min(nl.label)) AS BIGINT) AS label
      FROM l{i} l
      JOIN edges e ON e.src = l.node
      JOIN l{i} nl ON nl.node = e.dst
      GROUP BY l.node, l.label
    )"""
        )
    unrolled = ",\n    ".join(steps)
    return f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    e0 AS (
      SELECT a.item AS lo, b.item AS hi
      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    edges AS MATERIALIZED (
      SELECT lo AS src, hi AS dst FROM e0
      UNION ALL
      SELECT hi AS src, lo AS dst FROM e0
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS label FROM edges
    ),
    {unrolled},
    comm AS (
      SELECT label, CAST(count(*) AS BIGINT) AS community_size
      FROM l{LP_ITER} GROUP BY label
    )
    SELECT community_size,
           CAST(count(*) AS BIGINT) AS n_communities,
           CAST(sum(community_size) AS BIGINT) AS n_nodes
    FROM comm GROUP BY community_size ORDER BY community_size
    """


@register(
    "graph_label_propagation",
    oracle=_label_prop_oracle(),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronized min-label propagation on the
    co-purchase graph (same ≥2-support edge set as graph_triangle_count):
    every node starts labeled with its own id and, for LP_ITER
    supersteps, adopts the minimum label among itself and its
    neighbors — after k steps each node holds the smallest node id
    within k hops, so label groups approximate connected communities
    (exact components for diameter ≤ k). Min-label update is fully
    deterministic, unlike frequency-based LPA whose ties need RNG —
    which is what makes an exact cross-engine oracle possible.

    The supersteps are ``_min_labels``; the label vector is node-sized.
    The output is the community-size distribution — bounded by the
    largest community, not by graph size."""
    # every superstep joins against the edge list; materialize once
    edges = _directed(_copurchase_edges(spark, sf_dir)).localCheckpoint(eager=True)
    comm = _min_labels(edges).groupBy("label").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return (
        comm.groupBy("community_size")
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum("community_size").cast("long").alias("n_nodes"),
        )
        .orderBy("community_size")
    )


KCORE_K = 2
KCORE_PEELS = 4


def _kcore_oracle() -> str:
    """Unroll the fixed peeling rounds as chained CTEs (each round
    re-aggregates degrees — same recursion limitation as PageRank)."""
    steps = []
    for i in range(KCORE_PEELS):
        steps.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT lo AS node FROM e{i} UNION ALL SELECT hi FROM e{i}
      ) GROUP BY node
    ),
    k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE d >= {KCORE_K}),
    e{i + 1} AS MATERIALIZED (
      SELECT lo, hi FROM e{i}
      WHERE lo IN (SELECT node FROM k{i})
        AND hi IN (SELECT node FROM k{i})
    ),
    s{i} AS (
      SELECT {i + 1} AS peel,
             (SELECT CAST(count(*) AS BIGINT) FROM k{i}) AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM e{i + 1}) AS n_edges
    )"""
        )
    unrolled = ",\n    ".join(steps)
    final = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(KCORE_PEELS))
    return f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    e0 AS MATERIALIZED (
      SELECT a.item AS lo, b.item AS hi
      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    {unrolled}
    SELECT peel, n_nodes, n_edges FROM ({final}) ORDER BY peel
    """


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k = 2) on the co-purchase graph: each round drops
    nodes whose CURRENT degree is below k and the edges touching them,
    converging to the 2-core — the dense backbone that survives after
    tendrils peel away (the standard graph-mining primitive behind
    community seeding and graph simplification). The output is one row
    per peel round (surviving nodes/edges), i.e. the convergence curve;
    a fixed round count keeps the oracle expressible as unrolled CTEs —
    production peeling loops until a round removes nothing.

    Iterative DataFrame shape: per round one degree aggregation + two
    LEFT SEMI joins filtering the edge list (never IN-subquery
    materialization on the driver). Each round's survivors feed the
    next degree agg AND the stats row, so lineage is cut every
    round."""
    peeled, kept = [], []  # each round's input edges and kept nodes

    def peel(e: DataFrame, _: int) -> DataFrame:
        peeled.append(e)
        deg = (
            e.select(F.col("lo").alias("node"))
            .unionAll(e.select(F.col("hi").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= KCORE_K).select("node")
        kept.append(keep)
        return (
            e.join(keep.withColumnRenamed("node", "lo"), "lo", "left_semi")
            .join(keep.withColumnRenamed("node", "hi"), "hi", "left_semi")
            .select("lo", "hi")
        )

    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    peeled.append(iterate(e, peel, KCORE_PEELS, cut_every=1))
    rows = [
        keep.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .select(F.lit(i + 1).alias("peel"), "n_nodes", "n_edges")
        # round i's survivors are round i + 1's input
        for i, (keep, e) in enumerate(zip(kept, peeled[1:]))
    ]
    return reduce(DataFrame.unionAll, rows).orderBy("peel")


BFS_LAYERS = 4


def _bfs_oracle() -> str:
    """Unrolled BFS rounds (MATERIALIZED — each layer is referenced by
    the next frontier, the visited union, and its stats row)."""
    steps = []
    for i in range(BFS_LAYERS):
        steps.append(
            f"""l{i + 1} AS MATERIALIZED (
      SELECT DISTINCT e.dst AS node
      FROM l{i} f JOIN edges e ON e.src = f.node
      WHERE e.dst NOT IN (SELECT node FROM v{i})
    ),
    v{i + 1} AS MATERIALIZED (
      SELECT node FROM v{i} UNION SELECT node FROM l{i + 1}
    )"""
        )
    unrolled = ",\n    ".join(steps)
    final = " UNION ALL ".join(
        f"SELECT {i} AS layer, (SELECT CAST(count(*) AS BIGINT) FROM l{i}) AS n_nodes"
        for i in range(BFS_LAYERS + 1)
    )
    return f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    e0 AS MATERIALIZED (
      SELECT a.item AS lo, b.item AS hi
      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    edges AS MATERIALIZED (
      SELECT lo AS src, hi AS dst FROM e0
      UNION ALL
      SELECT hi AS src, lo AS dst FROM e0
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
    l0 AS MATERIALIZED (
      SELECT src AS node FROM deg ORDER BY d DESC, src LIMIT 1
    ),
    v0 AS MATERIALIZED (SELECT node FROM l0),
    {unrolled}
    SELECT layer, n_nodes FROM ({final}) ORDER BY layer
    """


@register(
    "graph_bfs_layers",
    oracle=_bfs_oracle(),
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability profile from the co-purchase graph's top hub
    (max degree, min-id tiebreak): nodes first reached at each of 4
    breadth layers — the expansion curve that measures effective
    diameter and hub coverage (a layer that swallows most of the graph
    by depth 2 is why label propagation converges in few supersteps
    here).

    Iterative frontier shape: each round joins the frontier against
    the edge list and anti-joins the visited set (LEFT ANTI — never an
    IN-list on the driver), with frontier AND visited cut every round;
    visited is node-bounded, frontiers shrink as the graph saturates.
    The oracle unrolls the same rounds with MATERIALIZED CTEs (each
    layer feeds three consumers)."""
    edges = _directed(_copurchase_edges(spark, sf_dir)).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    root = (
        deg.orderBy(F.col("d").desc(), F.col("src"))
        .limit(1)
        .select(F.col("src").alias("node"))
        # lazy: truncates lineage now, materializes in the final job
        .localCheckpoint(eager=False)
    )
    rows = []

    def layer_row(frontier: DataFrame, layer: int) -> DataFrame:
        return frontier.agg(F.count(F.lit(1)).alias("n_nodes")).select(
            F.lit(layer).alias("layer"), "n_nodes"
        )

    def expand(state: tuple, i: int) -> tuple:
        # state: (layer i, every node reached before layer i). visited
        # is built here from the already-cut frontier: built from the
        # next, uncut frontier, the round's two cuts would each
        # recompute that frontier
        frontier, seen = state
        rows.append(layer_row(frontier, i))
        visited = seen.unionAll(frontier)
        nxt = (
            edges.join(
                frontier.withColumnRenamed("node", "src"), "src", "left_semi"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        return nxt, visited

    frontier, _ = iterate((root, root.limit(0)), expand, BFS_LAYERS, cut_every=1)
    rows.append(layer_row(frontier, BFS_LAYERS))
    return reduce(DataFrame.unionAll, rows).orderBy("layer")


N_ITER_PPR = 5
N_SEEDS = 5  # suppliers 1..5 seed the restart distribution
TOP_K_PPR = 30


def _ppr_oracle() -> str:
    """Unrolled personalized-PageRank iterations: each step is the
    contribution aggregate FULL OUTER JOINed with the seed teleport
    mass, so nodes reached only by teleport (the seeds) and nodes
    reached only by spread both survive — the sparse-vector walk."""
    steps = []
    for i in range(N_ITER_PPR):
        steps.append(
            f"""c{i + 1} AS MATERIALIZED (
      SELECT e.dst AS node,
             (85 * CAST(sum(r{i}.rank // deg.d) AS BIGINT)) // 100 AS spread
      FROM r{i}
      JOIN deg   ON deg.src = r{i}.node
      JOIN edges e ON e.src = r{i}.node
      GROUP BY e.dst
    ),
    r{i + 1} AS MATERIALIZED (
      SELECT coalesce(c.node, s.node) AS node,
             CAST(coalesce(c.spread, 0) + coalesce(s.b, 0) AS BIGINT) AS rank
      FROM c{i + 1} c FULL OUTER JOIN seed_base s ON s.node = c.node
    )"""
        )
    unrolled = ",\n    ".join(steps)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT l_suppkey * 2 AS s, l_partkey * 2 + 1 AS p FROM lineitem
    ),
    edges AS MATERIALIZED (
      SELECT s AS src, p AS dst FROM pairs
      UNION ALL
      SELECT p AS src, s AS dst FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
    seeds AS (SELECT DISTINCT src AS node FROM deg
              WHERE src % 2 = 0 AND src // 2 <= {N_SEEDS}),
    ns AS (SELECT count(*) AS n FROM seeds),
    seed_base AS (
      SELECT node,
             CAST((15 * ({R_UNIT} // n)) // 100 AS BIGINT) AS b
      FROM seeds CROSS JOIN ns
    ),
    r0 AS (SELECT node, CAST({R_UNIT} // (SELECT n FROM ns) AS BIGINT) AS rank
           FROM seeds),
    {unrolled}
    SELECT node // 2 AS part_id, rank AS rank_fp
    FROM r{N_ITER_PPR}
    WHERE node % 2 = 1
    ORDER BY rank_fp DESC, node
    LIMIT {TOP_K_PPR}
    """


@register(
    "graph_personalized_pagerank",
    oracle=_ppr_oracle(),
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank / random-walk-with-restart from a seed set
    (suppliers 1-{N_SEEDS}) over the supplier↔part co-supply graph: the
    teleport returns to the SEEDS, not the uniform distribution, so the
    stationary mass ranks parts by proximity to those suppliers — the
    item-recommendation / related-entities workload, where global
    PageRank (graph_pagerank) answers a different question (global
    centrality).

    The rank vector starts |seeds|-sparse and only grows along reached
    edges — each superstep joins the CURRENT nonzero ranks against the
    edge list (sparse-matrix × sparse-vector), then FULL OUTER-merges
    the seed teleport mass so unreachable-but-seeded nodes persist.
    At 100 TB the working set is the walk's frontier, not the graph.
    Same integer fixed-point determinism contract as graph_pagerank
    (module docstring); the oracle unrolls the identical recurrence.

    Loop invariants are hoisted as in graph_pagerank: the shared
    contribution table, and the seed count + teleport constants as
    scalars instead of a per-iteration 1-row crossJoin broadcast."""
    contrib_edges = _contribution_table(spark, sf_dir)
    seeds = (
        contrib_edges.filter(
            (F.col("src") % 2 == 0) & (F.expr("src div 2") <= N_SEEDS)
        )
        .select(F.col("src").alias("node"))
        .distinct()
        .persist()
    )
    # loop-invariant teleport scalars (1-row driver scalar per build —
    # parameterizes the plan, nothing cached across runs); the count
    # also materializes both caches
    n = seeds.count()
    r0 = R_UNIT // n if n else 0
    b = (15 * r0) // 100
    seed_base = seeds.select("node", F.lit(b).cast("long").alias("b"))
    ranks = seeds.select("node", F.lit(r0).cast("long").alias("rank"))

    def superstep(ranks: DataFrame, _: int) -> DataFrame:
        spread = (
            contrib_edges.join(ranks, F.col("src") == F.col("node"))
            .select("dst", F.expr("rank div d").alias("contrib"))
            .groupBy("dst")
            .agg(F.expr("(85 * sum(contrib)) div 100").alias("spread"))
            .select(F.col("dst").alias("node"), "spread")
        )
        return (
            spread.join(seed_base, "node", "full_outer")
            .select(
                "node",
                (
                    F.coalesce(F.col("spread"), F.lit(0))
                    + F.coalesce(F.col("b"), F.lit(0))
                ).cast("long").alias("rank"),
            )
        )

    # never cut: five sparse supersteps plan cheaply uncut
    ranks = iterate(ranks, superstep, N_ITER_PPR, cut_every=N_ITER_PPR)
    ranks = ranks.localCheckpoint(eager=True)
    contrib_edges.unpersist()
    seeds.unpersist()
    return (
        ranks.filter(F.col("node") % 2 == 1)
        .select(
            F.expr("node div 2").alias("part_id"),
            F.col("rank").alias("rank_fp"),
        )
        .orderBy(F.col("rank_fp").desc(), F.col("part_id"))
        .limit(TOP_K_PPR)
    )


def _modularity_oracle() -> str:
    """Label-propagation unroll (same steps as _label_prop_oracle) plus
    the exact-integer Newman modularity: Q = Σ_c(4m·L_c − D_c²)/(4m²),
    where every numerator term is a BIGINT."""
    steps = []
    for i in range(LP_ITER):
        steps.append(
            f"""l{i + 1} AS MATERIALIZED (
      SELECT l.node AS node,
             CAST(least(l.label, min(nl.label)) AS BIGINT) AS label
      FROM l{i} l
      JOIN edges e ON e.src = l.node
      JOIN l{i} nl ON nl.node = e.dst
      GROUP BY l.node, l.label
    )"""
        )
    unrolled = ",\n    ".join(steps)
    return f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    e0 AS MATERIALIZED (
      SELECT a.item AS lo, b.item AS hi
      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    edges AS MATERIALIZED (
      SELECT lo AS src, hi AS dst FROM e0
      UNION ALL
      SELECT hi AS src, lo AS dst FROM e0
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS label FROM edges
    ),
    {unrolled},
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
    lc AS (
      SELECT a.label, CAST(count(*) AS BIGINT) AS l_in
      FROM e0
      JOIN l{LP_ITER} a ON a.node = e0.lo
      JOIN l{LP_ITER} b ON b.node = e0.hi AND b.label = a.label
      GROUP BY a.label
    ),
    dc AS (
      SELECT l.label, CAST(sum(deg.d) AS BIGINT) AS d_sum
      FROM l{LP_ITER} l JOIN deg ON deg.node = l.node
      GROUP BY l.label
    ),
    qn AS (
      SELECT CAST(sum(4 * mm.m * coalesce(lc.l_in, 0)
                      - dc.d_sum * dc.d_sum) AS BIGINT) AS q_num,
             CAST(count(*) AS BIGINT) AS n_communities,
             CAST(sum(coalesce(lc.l_in, 0)) AS BIGINT) AS intra_edges
      FROM dc LEFT JOIN lc ON lc.label = dc.label CROSS JOIN mm
      GROUP BY ()
    )
    SELECT mm.m AS n_edges, qn.n_communities, qn.intra_edges, qn.q_num,
           round(qn.q_num / (4.0 * mm.m * mm.m), 6) AS modularity
    FROM qn CROSS JOIN mm
    """


@register(
    "graph_modularity",
    oracle=_modularity_oracle(),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the min-label-propagation communities on
    the co-purchase graph — the single number that says whether the
    detected partition beats random wiring (Q > 0) and the objective
    Louvain/Leiden climb; here it audits graph_label_propagation's
    output, closing the detect→score loop.

    Exactness: with L_c intra-community edge counts, D_c community
    degree sums, and m undirected edges — all exact BIGINTs — Q is
    assembled as Σ_c(4m·L_c − D_c²) / (4m²): an exact integer numerator
    and ONE double division, so both engines agree to the bit before
    the final rounding. Scale shape: the LP supersteps are the same
    Pregel joins as graph_label_propagation; modularity itself adds
    one edge-keyed membership join (L_c) and one node-keyed degree
    rollup (D_c), both label-keyed aggregates after."""
    # read three times: edges union, m count, intra-edge join
    e0 = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    edges = _directed(e0).localCheckpoint(eager=True)
    labels = _min_labels(edges).localCheckpoint(eager=True)  # read 2x below
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    mm = e0.agg(F.count(F.lit(1)).cast("long").alias("m"))
    la = labels.select(F.col("node").alias("lo"), F.col("label").alias("la_l"))
    lb = labels.select(F.col("node").alias("hi"), F.col("label").alias("lb_l"))
    lc = (
        e0.join(la, "lo")
        .join(lb, "hi")
        .filter(F.col("la_l") == F.col("lb_l"))
        .groupBy(F.col("la_l").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("l_in"))
    )
    dc = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("d_sum"))
    )
    qn = (
        dc.join(lc, "label", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            (
                4 * F.col("m") * F.coalesce(F.col("l_in"), F.lit(0))
                - F.col("d_sum") * F.col("d_sum")
            ).alias("term"),
            F.coalesce(F.col("l_in"), F.lit(0)).alias("l_in"),
        )
        .agg(
            F.sum("term").cast("long").alias("q_num"),
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.sum("l_in").cast("long").alias("intra_edges"),
        )
    )
    return qn.crossJoin(F.broadcast(mm)).select(
        F.col("m").alias("n_edges"),
        "n_communities",
        "intra_edges",
        "q_num",
        F.round(
            F.col("q_num") / (4.0 * F.col("m").cast("double") * F.col("m")), 6
        ).alias("modularity"),
    )


@register(
    "adamic_adar_link_prediction",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    e AS (
      SELECT a.item AS lo, b.item AS hi
      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    sym AS (SELECT lo AS a, hi AS b FROM e UNION ALL SELECT hi, lo FROM e),
    deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
            FROM sym GROUP BY 1),
    iw AS (SELECT node,
                  CAST(floor(1000000.0 / ln(d) + 0.001) AS BIGINT)
                    AS inv_micro
           FROM deg WHERE d >= 2),
    wedge AS (
      SELECT s1.b AS lo, s2.b AS hi, s1.a AS z
      FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
    ),
    cand AS (
      SELECT wedge.lo, wedge.hi,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(iw.inv_micro) AS BIGINT) AS aa_micro
      FROM wedge JOIN iw ON iw.node = wedge.z
      GROUP BY 1, 2
    )
    SELECT c.lo AS item_a, c.hi AS item_b, c.n_common, c.aa_micro,
           round(c.aa_micro / 1000000.0, 6) AS aa_score
    FROM cand c LEFT JOIN e ON e.lo = c.lo AND e.hi = c.hi
    WHERE e.lo IS NULL
    ORDER BY c.aa_micro DESC, c.lo, c.hi LIMIT 20
    """,
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003; the classic
    common-neighbors index, LibenNowell & Kleinberg 2007) on the
    co-purchase item graph (graph_triangle_count's edge set): for every
    NON-adjacent item pair, AA = sum over common neighbors z of
    1/ln(deg(z)) — rare shared neighbors count more — and the top-20
    scored pairs are the recommended new links. Completes the graph
    tier's analytics (degree/PageRank/triangles/k-core/communities)
    with the prediction task they usually feed.

    Determinism: 1/ln(d) is evaluated once per node on the bounded
    degree table behind the floor(x*1e6+1e-3) guard (common neighbors
    have deg >= 2 by construction, so ln > 0), making every pair score
    an exact BIGINT sum; ranking ties break on (item_a, item_b).

    Scale: the wedge join s1(z)-s2(z) is the standard two-path
    enumeration — hub-bounded here by the >= 2-support co-purchase
    edge definition; at 100 TB you'd cap per-node neighbor lists
    (top-d by weight) before the wedge join, the same mitigation the
    triangle count documents. Existing edges are removed by an
    anti-join, never materializing the non-edge complement."""
    # narrow staged edge table (2 longs/row, catalog-pair-sized):
    # sym/deg/wedge/anti-join otherwise re-derive the basket self-join 7x
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    sym = e.select(F.col("lo").alias("a"), F.col("hi").alias("b")).unionAll(
        e.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    iw = deg.filter(F.col("d") >= 2).select(
        "node",
        F.expr("CAST(floor(1000000.0 / ln(d) + 0.001) AS BIGINT)").alias(
            "inv_micro"
        ),
    )
    # r13: the 1/ln(deg) weight joins the EDGE-sized sym table (one
    # row per directed edge) BEFORE the wedge self-join, so the
    # wedge-sized intermediate — sum over z of C(deg(z), 2) rows, the
    # plan's largest relation by orders of magnitude — flows straight
    # into the groupBy instead of through another join on z. (The
    # wedge VOLUME itself is irreducible for exact AA: every
    # common-neighbor pair contributes to every z's score, so unlike
    # triangle counting no degree orientation can prune wedges — the
    # deg-capped twin below is the 100 TB mitigation.)
    s1 = sym.join(iw, F.col("node") == F.col("a")).select(
        F.col("a").alias("z"), F.col("b").alias("lo"), "inv_micro"
    )
    s2 = sym.select(F.col("a").alias("z2"), F.col("b").alias("hi"))
    wedge = s1.join(
        s2, (F.col("z") == F.col("z2")) & (F.col("lo") < F.col("hi"))
    )
    cand = wedge.groupBy("lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("inv_micro").cast("long").alias("aa_micro"),
    )
    ex = e.select(F.col("lo").alias("elo"), F.col("hi").alias("ehi"))
    return (
        cand.join(
            ex,
            (F.col("lo") == F.col("elo")) & (F.col("hi") == F.col("ehi")),
            "left_anti",
        )
        .select(
            F.col("lo").alias("item_a"),
            F.col("hi").alias("item_b"),
            "n_common",
            "aa_micro",
            F.round(F.col("aa_micro") / 1_000_000.0, 6).alias("aa_score"),
        )
        .orderBy(F.col("aa_micro").desc(), "item_a", "item_b")
        .limit(20)
    )


AA_DEG_CAP = 8  # hub cap: wedges route only through common neighbors
#                 with deg(z) <= CAP — the 100 TB wedge-blowup control


@register(
    "adamic_adar_capped",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    e AS (
      SELECT a.item AS lo, b.item AS hi
      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    sym AS (SELECT lo AS a, hi AS b FROM e UNION ALL SELECT hi, lo FROM e),
    deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
            FROM sym GROUP BY 1),
    iw AS (SELECT node,
                  CAST(floor(1000000.0 / ln(d) + 0.001) AS BIGINT)
                    AS inv_micro
           FROM deg WHERE d >= 2 AND d <= {AA_DEG_CAP}),
    wedge AS (
      SELECT s1.b AS lo, s2.b AS hi, s1.a AS z
      FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
    ),
    cand AS (
      SELECT wedge.lo, wedge.hi,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(iw.inv_micro) AS BIGINT) AS aa_micro
      FROM wedge JOIN iw ON iw.node = wedge.z
      GROUP BY 1, 2
    )
    SELECT c.lo AS item_a, c.hi AS item_b, c.n_common, c.aa_micro,
           round(c.aa_micro / 1000000.0, 6) AS aa_score,
           CAST({AA_DEG_CAP} AS INT) AS deg_cap
    FROM cand c LEFT JOIN e ON e.lo = c.lo AND e.hi = c.hi
    WHERE e.lo IS NULL
    ORDER BY c.aa_micro DESC, c.lo, c.hi LIMIT 20
    """,
)
def adamic_adar_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-capped Adamic-Adar (r12, VERDICT r11 #5): identical to
    adamic_adar_link_prediction except wedges route ONLY through
    common neighbors z with deg(z) <= AA_DEG_CAP — the per-node cap
    that bounds the two-path enumeration at 100 TB, where one hub of
    degree D alone generates D² wedge rows. The approximation is
    principled for AA specifically: a skipped hub contributes at most
    1/ln(deg) < 1/ln(CAP) per pair, exactly the neighbors the index
    already down-weights. The cap is part of the query contract
    (deg_cap output column) and the oracle applies the identical
    d <= CAP filter, so this stays hash-exact — the capped production
    shape, with the uncapped twin as its losslessness yardstick at
    test SF.

    Scale: each surviving z generates <= CAP² wedge rows, so the wedge
    join is O(CAP² · |nodes|) regardless of the degree distribution;
    everything else matches the uncapped twin (one staged edge table,
    anti-join for non-edges, exact integer scores)."""
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    sym = e.select(F.col("lo").alias("a"), F.col("hi").alias("b")).unionAll(
        e.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    iw = deg.filter(
        (F.col("d") >= 2) & (F.col("d") <= AA_DEG_CAP)
    ).select(
        "node",
        F.expr("CAST(floor(1000000.0 / ln(d) + 0.001) AS BIGINT)").alias(
            "inv_micro"
        ),
    )
    # cap applied BEFORE the wedge self-join: only capped z fan out,
    # so no hub ever enters the two-path enumeration
    symc = sym.join(
        iw.select(F.col("node").alias("zok")),
        F.col("a") == F.col("zok"),
        "left_semi",
    )
    s2 = symc.select(F.col("a").alias("z2"), F.col("b").alias("hi"))
    wedge = symc.select(F.col("a").alias("z"), F.col("b").alias("lo")).join(
        s2, (F.col("z") == F.col("z2")) & (F.col("lo") < F.col("hi"))
    )
    cand = (
        wedge.join(iw, F.col("node") == F.col("z"))
        .groupBy("lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("inv_micro").cast("long").alias("aa_micro"),
        )
    )
    ex = e.select(F.col("lo").alias("elo"), F.col("hi").alias("ehi"))
    return (
        cand.join(
            ex,
            (F.col("lo") == F.col("elo")) & (F.col("hi") == F.col("ehi")),
            "left_anti",
        )
        .select(
            F.col("lo").alias("item_a"),
            F.col("hi").alias("item_b"),
            "n_common",
            "aa_micro",
            F.round(F.col("aa_micro") / 1_000_000.0, 6).alias("aa_score"),
            F.lit(AA_DEG_CAP).cast("int").alias("deg_cap"),
        )
        .orderBy(F.col("aa_micro").desc(), "item_a", "item_b")
        .limit(20)
    )
