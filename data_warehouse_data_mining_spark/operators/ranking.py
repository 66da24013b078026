"""Global order statistics WITHOUT a single-partition window.

Pareto/ABC classification, RFM scoring, and any "rank every row of a
big table by a measure" query naively wants
``row_number() OVER (ORDER BY measure)`` — a window with no PARTITION
BY, which Spark executes on ONE partition: the scale-killer this repo
bans (VERDICT r1; no registered query uses one).

The distributed alternative implemented here is the classic two-phase
range-partitioned prefix sum:

1. bucket every row by a *monotonic* function of the order key
   (``floor(log2(v + 1))`` — ≤ 64 buckets for a BIGINT, equal values
   can never straddle a bucket boundary);
2. rank / prefix-sum WITHIN each bucket with an ordinary partitioned
   window (parallel, spillable);
3. aggregate one tiny row per bucket, prefix-sum THAT (≤ 64 rows — a
   single-partition window bounded by construction, by the key's bit
   width, not by data volume), and broadcast the offsets back.

global_rank = bucket_offset + local_rank, exactly equal to the naive
global window's answer for any monotone bucketing — which is why the
DuckDB oracles here can stay the textbook one-window formulation while
the Spark plan scales to 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.registry import register

_FP = "CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)"


def global_order_stats(
    df: DataFrame,
    value_col: str,
    key_col: str,
    measure_col: str | None = None,
    ascending: bool = False,
    order_value_col: str | None = None,
    bucket_expr: F.Column | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Add ``global_rank`` (and ``global_cum`` of ``measure_col``) as if
    computed by ``OVER (ORDER BY value [DESC], key)`` — but distributed.

    ``value_col`` must be a non-negative integral column. Ordering is
    (value asc|desc, key asc); ``measure_col`` must be integral so the
    prefix sum is exact. See module docstring for the three-phase shape.

    ``order_value_col``: when the true sort key is not integral (e.g. a
    raw double price), pass it here and give ``value_col`` any MONOTONE
    non-decreasing integral image of it (e.g. rounded cents) — the image
    buckets rows (equal true values get equal images, so they never
    straddle a boundary) while ranks use the true column's full
    precision.

    ``bucket_expr``: override the default ``floor(log2(v + 1))``
    bucketing with any caller-supplied MONOTONE non-decreasing integral
    expression over the order value (equal order values must map to
    equal buckets). Needed when the value domain makes log2 degenerate —
    e.g. epoch-microsecond timestamps spanning one year all share a
    single log2 bucket; an equal-width ``floor((t - tmin) * K / span)``
    keeps the phase-1 windows balanced.

    ``partition_cols``: compute an independent global ordering WITHIN
    each partition-key group (``OVER (PARTITION BY p ORDER BY …)`` with
    arbitrarily large groups — e.g. per-year rankings over every
    customer). The buckets, offsets, and joins all carry the partition
    key, so no group ever collapses to one task; the offset table stays
    ≤ groups × buckets rows.
    """
    # Fail fast on NULL/negative values: log2 would yield a NULL bucket
    # and the offsets join would SILENTLY DROP those rows — assert_true
    # turns that wrong-answer mode into a runtime error at the first
    # offending row (it returns NULL when the predicate holds, so the
    # when() below is an identity on valid input).
    valid = F.assert_true(
        F.col(value_col).isNotNull() & (F.col(value_col) >= 0),
        F.lit(f"global_order_stats: {value_col} must be non-null and >= 0"),
    )
    # Monotone bucketing: log2 is computed in floating point, which may
    # round at exact powers of two — harmless, because ANY deterministic
    # monotone non-decreasing bucketing yields the exact global answer;
    # equal values always share a bucket.
    if bucket_expr is None:
        bucket_expr = F.floor(F.log2(F.col(value_col).cast("double") + F.lit(1.0)))
    df = df.withColumn("__b", F.when(valid.isNull(), bucket_expr).cast("long"))

    pcols = list(partition_cols or [])
    ocol = order_value_col or value_col
    order = [
        F.col(ocol).asc() if ascending else F.col(ocol).desc(),
        F.col(key_col).asc(),
    ]
    w_local = W.partitionBy(*pcols, "__b").orderBy(*order)
    df = df.withColumn("__lr", F.row_number().over(w_local))
    aggs = [F.count(F.lit(1)).alias("__bn")]
    if measure_col is not None:
        df = df.withColumn(
            "__lc",
            F.sum(measure_col).over(
                w_local.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        aggs.append(F.sum(measure_col).alias("__bm"))

    stats = df.groupBy(*pcols, "__b").agg(*aggs)
    # Prefix-sum the ≤64 bucket rows with a triangular self-join instead
    # of an unpartitioned window — same O(64²) work, no WindowExec-on-
    # one-partition operator anywhere in the plan.
    prior = F.col("b.__b") < F.col("a.__b") if ascending else F.col("b.__b") > F.col("a.__b")
    for p in pcols:
        prior = prior & (F.col(f"a.{p}") == F.col(f"b.{p}"))
    offsets = (
        stats.alias("a")
        .join(F.broadcast(stats.alias("b")), prior, "left")
        .groupBy(
            *[F.col(f"a.{p}").alias(p) for p in pcols],
            F.col("a.__b").alias("__b"),
        )
        .agg(
            F.coalesce(F.sum("b.__bn"), F.lit(0)).alias("__on"),
            *(
                [F.coalesce(F.sum("b.__bm"), F.lit(0)).alias("__om")]
                if measure_col is not None
                else []
            ),
        )
    )
    out = df.join(F.broadcast(offsets), [*pcols, "__b"])
    out = out.withColumn("global_rank", (F.col("__on") + F.col("__lr")).cast("long"))
    if measure_col is not None:
        out = out.withColumn("global_cum", (F.col("__om") + F.col("__lc")).cast("long"))
    return out.drop("__b", "__lr", "__lc", "__on", "__om")


@register(
    "abc_pareto_classification",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum({_FP}) AS BIGINT) AS rev_fp
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, rev_fp,
             CAST(sum(rev_fp) OVER (ORDER BY rev_fp DESC, l_partkey
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_fp,
             CAST(sum(rev_fp) OVER () AS BIGINT) AS total_fp
      FROM rev
    ),
    classed AS (
      SELECT CASE WHEN cum_fp * 100 <= total_fp * 80 THEN 'A'
                  WHEN cum_fp * 100 <= total_fp * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev_fp, total_fp
      FROM ranked
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           ((x - x % 100) / 100) / 100.0 AS class_revenue,
           round(CAST(sum(rev_fp) AS BIGINT) * 1.0 / any_value(total_fp), 6)
             AS revenue_share
    FROM (SELECT abc_class, rev_fp, total_fp,
                 CAST(sum(rev_fp) OVER (PARTITION BY abc_class) AS BIGINT) + 50 AS x
          FROM classed)
    GROUP BY abc_class, x
    ORDER BY abc_class
    """,
)
def abc_pareto_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto 80/15/5) inventory classification of parts by revenue:
    class A = parts whose running revenue share (ranked by revenue desc)
    stays within 80% of total, B to 95%, C the tail.

    The running share is a GLOBAL cumulative sum over every part — the
    textbook single-partition window — computed here with the
    range-partitioned two-phase prefix sum (module docstring), so the
    part table never collapses to one task. Revenue is exact 1e-4
    fixed-point (pricing_summary's convention): the 80/95 boundary
    tests are pure integer comparisons, immune to double ties. The
    oracle keeps the naive one-window SQL — both produce identical
    classes because the bucketing is monotone."""
    li = load(spark, sf_dir).lineitem
    rev = (
        li.groupBy("l_partkey")
        .agg(F.sum(F.expr(_FP)).cast("long").alias("rev_fp"))
        # parts-sized; consumed by the ranking passes AND the total — one
        # materialization instead of four lineitem scans (plan audit)
        .localCheckpoint(eager=True)
    )
    ranked = global_order_stats(
        rev, "rev_fp", "l_partkey", measure_col="rev_fp", ascending=False
    )
    total = rev.agg(F.sum("rev_fp").cast("long").alias("total_fp"))
    classed = ranked.crossJoin(F.broadcast(total)).select(
        F.when(F.col("global_cum") * 100 <= F.col("total_fp") * 80, "A")
        .when(F.col("global_cum") * 100 <= F.col("total_fp") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev_fp",
        "total_fp",
    )
    x = F.sum("rev_fp").cast("long") + F.lit(50)
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            ((x - x % 100) / 100 / 100.0).alias("class_revenue"),
            F.round(
                F.sum("rev_fp").cast("long") / F.first("total_fp"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


@register(
    "rfm_segmentation",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS ck,
             CAST(date_diff('day', max(o_orderdate),
                            (SELECT max(o_orderdate) FROM orders)) AS BIGINT)
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS monetary_fp
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT ck, monetary_fp,
             4 - ((row_number() OVER (ORDER BY recency_days ASC, ck ASC) - 1) * 4)
                 // (SELECT count(*) FROM base) AS r_score,
             4 - ((row_number() OVER (ORDER BY frequency DESC, ck ASC) - 1) * 4)
                 // (SELECT count(*) FROM base) AS f_score,
             4 - ((row_number() OVER (ORDER BY monetary_fp DESC, ck ASC) - 1) * 4)
                 // (SELECT count(*) FROM base) AS m_score
      FROM base
    )
    SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS rfm_segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           ((CAST(sum(monetary_fp) AS BIGINT) * 200 + count(*) * 100)
              // (2 * count(*) * 100)) / 100.0 AS avg_monetary
    FROM scored
    GROUP BY 1
    ORDER BY rfm_segment
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile scores (4 = best) for
    Recency (days since last order), Frequency (order count), Monetary
    (lifetime spend, exact cents), concatenated into segments like
    '444' / '121', with customer counts and average spend per segment.

    Each quartile score needs a rank of EVERY customer by one metric —
    three global orderings, each computed with the distributed two-phase
    prefix sum instead of ntile()'s single-partition window. Scores are
    pure integer arithmetic from the rank: 4 - ((rank-1)*4 div n).
    Population = customers with ≥1 order; at 100 TB the customer
    aggregate is itself large, which is exactly why the ranking must not
    serialize."""
    o = load(spark, sf_dir).orders
    maxd = o.agg(F.max("o_orderdate").alias("gmax"))
    base = (
        o.crossJoin(F.broadcast(maxd))
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.datediff(F.first("gmax"), F.max("o_orderdate"))
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("monetary_fp"),
        )
        # three ranking passes consume this aggregate; materialize once
        .localCheckpoint(eager=True)
    )
    n = base.agg(F.count(F.lit(1)).alias("n_pop"))

    def score(df: DataFrame, col: str, asc: bool, out: str) -> DataFrame:
        ranked = global_order_stats(df, col, "ck", ascending=asc)
        return ranked.select(
            "ck",
            *( ["monetary_fp"] if out == "m_score" else [] ),
            F.expr(f"4 - ((global_rank - 1) * 4) div n_pop").alias(out),
        )

    r = score(base.select("ck", "recency_days").crossJoin(F.broadcast(n)),
              "recency_days", True, "r_score")
    f_ = score(base.select("ck", "frequency").crossJoin(F.broadcast(n)),
               "frequency", False, "f_score")
    m = score(base.select("ck", "monetary_fp").crossJoin(F.broadcast(n)),
              "monetary_fp", False, "m_score")
    scored = r.join(f_, "ck").join(m, "ck")
    return (
        scored.groupBy(
            F.concat(
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ).alias("rfm_segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_fp").cast("long").alias("__sum_fp"),
        )
        # .xx5 rounding ties on sum/n doubles diverge between engines —
        # round half-away in exact integer space instead (playbook rule)
        .select(
            "rfm_segment",
            "n_customers",
            # the SQL literal 100.0 is DECIMAL(4,1) in Spark, so without the
            # cast this column is DECIMAL(27,6) and stringifies with six
            # trailing decimals while DuckDB's `/ 100.0` is DOUBLE — values
            # match but the driver's stringified hash diverges.
            F.expr(
                "((__sum_fp * 200 + n_customers * 100)"
                " div (2 * n_customers * 100)) / 100.0"
            ).cast("double").alias("avg_monetary"),
        )
        .orderBy("rfm_segment")
    )


@register(
    "weighted_median_unit_price",
    oracle="""
    WITH v AS (
      SELECT CAST(round(l_extendedprice / l_quantity * 100, 0) AS BIGINT)
               AS price_c,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    g AS (
      SELECT price_c, CAST(sum(w) AS BIGINT) AS w
      FROM v GROUP BY price_c
    ),
    c AS (
      SELECT price_c,
             CAST(sum(w) OVER (ORDER BY price_c ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cw,
             CAST(sum(w) OVER () AS BIGINT) AS tw
      FROM g
    )
    SELECT CAST(min(price_c) AS BIGINT) AS median_price_cents,
           round(min(price_c) / 100.0, 2) AS median_price,
           CAST(min(tw) AS BIGINT) AS total_weight
    FROM c WHERE cw * 2 >= tw
    """,
)
def weighted_median_unit_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted (lower) median unit price across ALL lineitems:
    the smallest price whose cumulative sold quantity reaches half the
    total — a robust 'typical transacted price' no plain median of rows
    gives.

    A weighted median has no Spark built-in (percentile_approx ignores
    weights), and the textbook SQL needs a GLOBAL cumulative-weight
    window. Here the value domain is first collapsed by an ordinary
    hash-agg (distinct unit prices ≪ rows), then the global cumulative
    weight comes from the two-phase prefix sum (module docstring) —
    never a one-partition sort of the fact table. Prices are exact
    cents, weights exact integer quantities, so the half-total
    threshold is a pure integer comparison."""
    li = load(spark, sf_dir).lineitem
    v = li.select(
        F.expr(
            "CAST(round(l_extendedprice / l_quantity * 100, 0) AS BIGINT)"
        ).alias("price_c"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    g = (
        v.groupBy("price_c")
        .agg(F.sum("w").cast("long").alias("w"))
        # distinct-price-sized; feeds both the ranking and the total
        .localCheckpoint(eager=True)
    )
    ranked = global_order_stats(
        g, "price_c", "price_c", measure_col="w", ascending=True
    )
    tw = g.agg(F.sum("w").cast("long").alias("tw"))
    return (
        ranked.crossJoin(F.broadcast(tw))
        .filter(F.col("global_cum") * 2 >= F.col("tw"))
        .agg(
            F.min("price_c").cast("long").alias("median_price_cents"),
            F.round(F.min("price_c") / 100.0, 2).alias("median_price"),
            F.min("tw").cast("long").alias("total_weight"),
        )
    )


@register(
    "gini_customer_spend",
    oracle="""
    WITH s AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS spend_c
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT spend_c,
             row_number() OVER (ORDER BY spend_c ASC, o_custkey ASC) AS rk
      FROM s
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(spend_c) AS DECIMAL(38,0)) AS st,
             CAST(sum(CAST(rk AS DECIMAL(38,0)) * spend_c) AS DECIMAL(38,0))
               AS srs
      FROM r
    )
    SELECT n AS n_customers,
           round(CAST(st AS DOUBLE) / 100.0, 2) AS total_spend,
           round(2.0 * CAST(srs AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(st AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
    FROM agg
    """,
)
def gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer lifetime spend — the inequality KPI
    behind 'whale analysis' (how concentrated is revenue), computed by
    the exact rank formula G = 2·Σ(i·sᵢ)/(n·Σsᵢ) − (n+1)/n over spends
    sorted ascending.

    The rank of EVERY customer is again a global ordering — assigned by
    the distributed two-phase prefix sum, not a one-partition window.
    Σ(i·sᵢ) is accumulated in DECIMAL(38,0): ranks×cents products
    overflow int64 around ~10⁸ customers, and the decimal sum keeps the
    statistic exact at any scale (both engines sum it exactly; only the
    final ratio is floating point). Spend ties order by custkey so the
    rank assignment — and therefore the exact Σ(i·sᵢ) — is identical in
    both engines."""
    o = load(spark, sf_dir).orders
    s = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("spend_c")
        )
        # customer-sized; the ranking's window + bucket-stats branches
        # both consume it — materialize once
        .localCheckpoint(eager=True)
    )
    ranked = global_order_stats(s, "spend_c", "o_custkey", ascending=True)
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("spend_c").cast("decimal(38,0)").alias("st"),
        F.sum(
            F.col("global_rank").cast("decimal(38,0)") * F.col("spend_c")
        ).cast("decimal(38,0)").alias("srs"),
    )
    n_d = F.col("n").cast("double")
    return agg.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("st").cast("double") / 100.0, 2).alias("total_spend"),
        F.round(
            2.0 * F.col("srs").cast("double") / (n_d * F.col("st").cast("double"))
            - (n_d + 1.0) / n_d,
            6,
        ).alias("gini"),
    )


_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
_SPLIT = "1998-01-01"  # fixed period pivot (order dates span 1995-2001)


@register(
    "segment_transition_matrix",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey AS ck,
             CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{_SPLIT} 00:00:00'
                           THEN {_CENTS} END) AS BIGINT) AS spend_a,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{_SPLIT} 00:00:00'
                           THEN {_CENTS} END) AS BIGINT) AS spend_b
      FROM orders GROUP BY o_custkey
    ),
    ta AS (
      SELECT ck,
             1 + ((row_number() OVER (ORDER BY spend_a DESC, ck ASC) - 1) * 3)
                 // (SELECT count(*) FROM base WHERE spend_a IS NOT NULL)
               AS tier
      FROM base WHERE spend_a IS NOT NULL
    ),
    tb AS (
      SELECT ck,
             1 + ((row_number() OVER (ORDER BY spend_b DESC, ck ASC) - 1) * 3)
                 // (SELECT count(*) FROM base WHERE spend_b IS NOT NULL)
               AS tier
      FROM base WHERE spend_b IS NOT NULL
    ),
    joined AS (
      SELECT coalesce('T' || CAST(ta.tier AS VARCHAR), 'absent') AS from_tier,
             coalesce('T' || CAST(tb.tier AS VARCHAR), 'absent') AS to_tier
      FROM ta FULL OUTER JOIN tb ON ta.ck = tb.ck
    )
    SELECT from_tier, to_tier,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(count(*) * 1.0 /
                 CAST(sum(count(*)) OVER (PARTITION BY from_tier) AS BIGINT),
                 6) AS pct_of_from
    FROM joined
    GROUP BY from_tier, to_tier
    ORDER BY from_tier, to_tier
    """,
)
def segment_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer tier migration matrix: customers are terciled by spend
    (T1 = top third) independently in two eras (orders before vs after
    1998-01-01), and the matrix counts every from→to transition —
    including churn-in/churn-out via the 'absent' tier. The classic
    'segment migration' report behind retention planning.

    Both eras' spends come from ONE scan (conditional sums per
    customer); each era's terciles are a global ranking computed with
    the distributed two-phase prefix sum over just that era's active
    customers. The final matrix is ≤16 rows; its row-share denominator
    is a partitioned window over that tiny table."""
    o = load(spark, sf_dir).orders
    split = F.lit(_SPLIT).cast("timestamp")
    base = (
        o.groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(
                F.when(F.col("o_orderdate") < split, F.expr(_CENTS))
            ).cast("long").alias("spend_a"),
            F.sum(
                F.when(F.col("o_orderdate") >= split, F.expr(_CENTS))
            ).cast("long").alias("spend_b"),
        )
        # customer-sized; both era rankings read it
        .localCheckpoint(eager=True)
    )

    def tiers(col: str, out: str) -> DataFrame:
        pop = base.filter(F.col(col).isNotNull())
        n = pop.agg(F.count(F.lit(1)).alias("n_pop"))
        ranked = global_order_stats(
            pop.select("ck", col), col, "ck", ascending=False
        )
        return ranked.crossJoin(F.broadcast(n)).select(
            "ck",
            F.concat(
                F.lit("T"),
                (1 + F.expr("((global_rank - 1) * 3) div n_pop")).cast("string"),
            ).alias(out),
        )

    ta = tiers("spend_a", "from_tier")
    tb = tiers("spend_b", "to_tier")
    joined = ta.join(tb, "ck", "full_outer").select(
        F.coalesce("from_tier", F.lit("absent")).alias("from_tier"),
        F.coalesce("to_tier", F.lit("absent")).alias("to_tier"),
    )
    counts = joined.groupBy("from_tier", "to_tier").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    w_from = W.partitionBy("from_tier")
    return counts.select(
        "from_tier",
        "to_tier",
        "n_customers",
        F.round(
            F.col("n_customers")
            / F.sum("n_customers").over(w_from).cast("long"),
            6,
        ).alias("pct_of_from"),
    ).orderBy("from_tier", "to_tier")


@register(
    "decile_lift_table",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey AS ck,
             CAST(sum({_CENTS}) AS BIGINT) AS monetary,
             max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
               AS label
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT ck, monetary, label,
             1 + ((row_number() OVER (ORDER BY monetary DESC, ck ASC) - 1) * 10)
                 // (SELECT count(*) FROM base) AS decile
      FROM base
    ),
    d AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(label) AS BIGINT) AS n_positive
      FROM ranked GROUP BY decile
    ),
    t AS (SELECT CAST(sum(n_customers) AS BIGINT) AS tn,
                 CAST(sum(n_positive) AS BIGINT) AS tp FROM d)
    SELECT CAST(decile AS BIGINT) AS decile, n_customers, n_positive,
           round(n_positive * 1.0 * tn / (n_customers * tp), 6) AS lift,
           round(CAST(sum(n_positive) OVER (ORDER BY decile
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) * 1.0 / tp, 6)
             AS cum_capture
    FROM d CROSS JOIN t
    ORDER BY decile
    """,
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table — the model-evaluation report scored
    here with a deterministic proxy (customer lifetime spend as the
    score, 'ever placed a 1-URGENT order' as the positive label):
    customers are ranked into spend deciles and each decile reports its
    positive rate vs the population (lift) and the cumulative share of
    all positives captured (gains curve).

    The decile assignment is a global ranking of every customer —
    distributed two-phase prefix sum, never ntile()'s single-partition
    sort. Lift and capture are single divisions of exact integer
    counts; the cumulative capture runs over the 10-row decile table
    (bounded by construction)."""
    o = load(spark, sf_dir).orders
    base = (
        o.groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(F.expr(_CENTS)).cast("long").alias("monetary"),
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    n = base.agg(F.count(F.lit(1)).alias("n_pop"))
    ranked = global_order_stats(base, "monetary", "ck", ascending=False)
    d = (
        ranked.crossJoin(F.broadcast(n))
        .groupBy(
            (1 + F.expr("((global_rank - 1) * 10) div n_pop")).alias("decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("label").cast("long").alias("n_positive"),
        )
        # 10 rows; totals + cumulative both read it
        .localCheckpoint(eager=True)
    )
    t = d.agg(
        F.sum("n_customers").cast("long").alias("tn"),
        F.sum("n_positive").cast("long").alias("tp"),
    )
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        d.crossJoin(F.broadcast(t))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            "n_positive",
            F.round(
                F.col("n_positive") * F.col("tn")
                / (F.col("n_customers") * F.col("tp")),
                6,
            ).alias("lift"),
            F.round(
                F.sum("n_positive").over(w_cum).cast("long") / F.col("tp"), 6
            ).alias("cum_capture"),
        )
        .orderBy("decile")
    )


def ntile_from_rank(rank: F.Column, n: F.Column, k: int) -> F.Column:
    """Reconstruct ``ntile(k)``'s bucket from a global rank: the first
    ``n % k`` buckets take ``n div k + 1`` rows, the rest ``n div k`` —
    exactly the SQL-standard ntile split, as pure integer arithmetic.
    Lets any query swap a single-partition ``ntile() OVER (ORDER BY …)``
    for ``global_order_stats`` + this formula with identical output.

    All divisions subtract their remainder first and divide through
    DECIMAL(38,0), so the quotients are exact for ANY int64 rank/n —
    double-based floor(a/b) loses exactness past 2^53."""

    def idiv(a: F.Column, b: F.Column) -> F.Column:
        return ((a - F.pmod(a, b)).cast("decimal(38,0)") / b).cast("long")

    m = n % k
    size_small = idiv(n, F.lit(k))
    size_big = size_small + 1
    threshold = m * size_big
    return (
        F.when(rank <= threshold, idiv(rank - 1, size_big) + 1)
        .otherwise(m + idiv(rank - threshold - 1, size_small) + 1)
        .cast("int")
    )


GROUP_TOPK_SALTS = 64


def bounded_group_topk(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    salt_src: str,
    n_salts: int = GROUP_TOPK_SALTS,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-group k smallest rows by ``order_col`` plus the group's total
    row count (``group_total``) — WITHOUT a per-group full sort.

    A plain ``row_number() OVER (PARTITION BY group ORDER BY v)`` puts
    each group's ENTIRE domain on one task, which serializes whenever
    group cardinality is small (3 return flags, a handful of
    languages). Here every group is first split across ``n_salts``
    deterministic salts (hash of ``salt_src``): phase 1 ranks inside
    (group, salt) partitions — parallel, each holding ~1/n_salts of the
    group — keeping k survivors and the partition's row count; phase 2
    re-ranks only the ≤ n_salts·k survivors per group (bounded by
    construction) and sums the per-salt counts back into exact group
    totals. Output columns: group_cols + [order_col, group_rank,
    group_total]."""
    salted = df.withColumn(
        "__salt", F.pmod(F.hash(F.col(salt_src)), F.lit(n_salts))
    )
    w1 = W.partitionBy(*group_cols, "__salt").orderBy(order_col)
    s1 = (
        salted.select(
            *group_cols,
            "__salt",
            order_col,
            *carry_cols,
            F.row_number().over(w1).alias("__rn"),
            F.count(F.lit(1)).over(
                W.partitionBy(*group_cols, "__salt")
            ).alias("__cnt"),
        )
        .filter(F.col("__rn") <= k)
    )
    totals = (
        s1.groupBy(*group_cols, "__salt")
        .agg(F.first("__cnt").alias("__cnt"))
        .groupBy(*group_cols)
        .agg(F.sum("__cnt").cast("long").alias("group_total"))
    )
    w2 = W.partitionBy(*group_cols).orderBy(order_col)  # ≤ n_salts·k rows/group
    top = (
        s1.select(*group_cols, order_col, *carry_cols)
        .withColumn("group_rank", F.row_number().over(w2))
        .filter(F.col("group_rank") <= k)
    )
    return top.join(totals, group_cols)


@register(
    "gini_by_year",
    oracle="""
    WITH s AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr, o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS spend_c
      FROM orders GROUP BY 1, 2
    ),
    r AS (
      SELECT yr, spend_c,
             row_number() OVER (PARTITION BY yr
                                ORDER BY spend_c ASC, o_custkey ASC) AS rk
      FROM s
    ),
    agg AS (
      SELECT yr, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(spend_c) AS DECIMAL(38,0)) AS st,
             CAST(sum(CAST(rk AS DECIMAL(38,0)) * spend_c) AS DECIMAL(38,0))
               AS srs
      FROM r GROUP BY yr
    )
    SELECT yr AS year, n AS n_customers,
           round(CAST(st AS DOUBLE) / 100.0, 2) AS total_spend,
           round(2.0 * CAST(srs AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(st AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
    FROM agg ORDER BY year
    """,
)
def gini_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration TREND: the exact rank-formula Gini of
    customer spend computed independently per order year — whether the
    whale dependence is growing is a different (and more actionable)
    question than gini_customer_spend's single snapshot.

    Each year needs a full ranking of that year's customers —
    ``row_number() OVER (PARTITION BY year ORDER BY spend)`` with
    year-sized groups, which would serialize per year on a plain
    window. This is the first consumer of global_order_stats'
    ``partition_cols``: buckets/offsets/joins all carry the year, so
    every year's ranking is range-partitioned and parallel. Σ(i·sᵢ)
    stays DECIMAL(38,0) per year (gini_customer_spend's overflow
    rationale)."""
    o = load(spark, sf_dir).orders
    s = (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            "o_custkey",
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("spend_c")
        )
    )
    ranked = global_order_stats(
        s, "spend_c", "o_custkey", ascending=True, partition_cols=["yr"]
    )
    agg = ranked.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("spend_c").cast("decimal(38,0)").alias("st"),
        F.sum(F.col("global_rank").cast("decimal(38,0)") * F.col("spend_c"))
        .cast("decimal(38,0)")
        .alias("srs"),
    )
    n_d = F.col("n").cast("double")
    return agg.select(
        F.col("yr").alias("year"),
        F.col("n").alias("n_customers"),
        F.round(F.col("st").cast("double") / 100.0, 2).alias("total_spend"),
        F.round(
            2.0 * F.col("srs").cast("double")
            / (n_d * F.col("st").cast("double"))
            - (n_d + 1.0) / n_d,
            6,
        ).alias("gini"),
    ).orderBy("year")


@register(
    "weighted_group_quartiles",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice / l_quantity * 100, 0) AS BIGINT)
               AS price_c,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    g AS (
      SELECT flag, price_c, CAST(sum(w) AS BIGINT) AS w
      FROM v GROUP BY flag, price_c
    ),
    c AS (
      SELECT flag, price_c,
             CAST(sum(w) OVER (PARTITION BY flag ORDER BY price_c
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
             CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
      FROM g
    )
    SELECT flag,
           CAST(min(tw) AS BIGINT) AS total_weight,
           round(min(CASE WHEN cw * 4 >= tw THEN price_c END) / 100.0, 2)
             AS q1_price,
           round(min(CASE WHEN cw * 2 >= tw THEN price_c END) / 100.0, 2)
             AS median_price,
           round(min(CASE WHEN cw * 4 >= 3 * tw THEN price_c END) / 100.0, 2)
             AS q3_price
    FROM c GROUP BY flag ORDER BY flag
    """,
)
def weighted_group_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price quartiles PER return flag — the grouped
    generalization of weighted_median_unit_price: within each group,
    the smallest price whose cumulative sold quantity reaches ¼/½/¾ of
    the group total. Each group's cumulative weight is a full ordering
    of that group's price domain; with 3 giant groups a plain
    partitioned window serializes per group, so this composes BOTH
    helper extensions — ``partition_cols`` (per-group two-phase prefix
    sums) over the value-collapsed domain — and reads all three
    quartiles from one conditional aggregate over exact integer
    comparisons."""
    li = load(spark, sf_dir).lineitem
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.expr(
            "CAST(round(l_extendedprice / l_quantity * 100, 0) AS BIGINT)"
        ).alias("price_c"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    g = (
        v.groupBy("flag", "price_c")
        .agg(F.sum("w").cast("long").alias("w"))
        # (flag, distinct-price)-sized; ranked pass + totals share it
        .localCheckpoint(eager=True)
    )
    ranked = global_order_stats(
        g,
        "price_c",
        "price_c",
        measure_col="w",
        ascending=True,
        partition_cols=["flag"],
    )
    tw = g.groupBy("flag").agg(F.sum("w").cast("long").alias("tw"))
    cq = ranked.join(F.broadcast(tw), "flag")
    return (
        cq.groupBy("flag")
        .agg(
            F.min("tw").cast("long").alias("total_weight"),
            F.round(
                F.min(
                    F.when(
                        F.col("global_cum") * 4 >= F.col("tw"),
                        F.col("price_c"),
                    )
                )
                / 100.0,
                2,
            ).alias("q1_price"),
            F.round(
                F.min(
                    F.when(
                        F.col("global_cum") * 2 >= F.col("tw"),
                        F.col("price_c"),
                    )
                )
                / 100.0,
                2,
            ).alias("median_price"),
            F.round(
                F.min(
                    F.when(
                        F.col("global_cum") * 4 >= 3 * F.col("tw"),
                        F.col("price_c"),
                    )
                )
                / 100.0,
                2,
            ).alias("q3_price"),
        )
        .orderBy("flag")
    )
