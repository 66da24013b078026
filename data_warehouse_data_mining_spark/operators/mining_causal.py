"""Causal-identification estimators split from mining_policy.py (r11 size
hygiene): sharp regression discontinuity, 1-NN matching ATT (bucketed
two-phase nearest-control), and the Mantel-Haenszel pooled odds ratio
— the estimator-side completions of the causal kit whose weighting/
subclassification members live in mining_policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.registry import register

RDD_CUTOFF_CENTS = 500_000   # $5,000 account-balance cutoff
RDD_BANDWIDTH_CENTS = 300_000  # +/- $3,000 local-linear window
_RDD_SIDE_STATS = """
  CAST(count(*) AS DECIMAL(38,0)) AS n,
  CAST(sum(x) AS DECIMAL(38,0)) AS sx,
  CAST(sum(y) AS DECIMAL(38,0)) AS sy,
  sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
  sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
  sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
"""
# per-side OLS quantities as one identical double expression tree over
# the exact decimal moment sums (the groupwise_ols_trend discipline)
_RDD_FITS = """
  CAST(n AS DOUBLE) AS nd,
  (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS den,
  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
  (CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
   - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS intercept
"""


@register(
    "regression_discontinuity_effect",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    run AS (
      SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT)
               - {RDD_CUTOFF_CENTS} AS x,
             coalesce(s.y, 0) AS y
      FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
      WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT)
            BETWEEN {RDD_CUTOFF_CENTS - RDD_BANDWIDTH_CENTS}
                AND {RDD_CUTOFF_CENTS + RDD_BANDWIDTH_CENTS - 1}
    ),
    sides AS (
      SELECT (x >= 0) AS treated, {_RDD_SIDE_STATS}
      FROM run GROUP BY 1
    ),
    fits AS (
      SELECT treated, {_RDD_FITS},
             CAST(syy AS DOUBLE) AS syyd, CAST(sy AS DOUBLE) AS syd,
             CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd
      FROM sides
    ),
    se AS (
      SELECT treated, nd, slope, intercept, den,
             sqrt(greatest(syyd - intercept * syd - slope * sxyd, 0.0)
                  / (nd - 2) * sxxd / den) AS se_int
      FROM fits
    ),
    wide AS (
      SELECT
        max(CASE WHEN NOT treated THEN nd END) AS n_l,
        max(CASE WHEN treated THEN nd END) AS n_r,
        max(CASE WHEN NOT treated THEN slope END) AS sl_l,
        max(CASE WHEN treated THEN slope END) AS sl_r,
        max(CASE WHEN NOT treated THEN intercept END) AS int_l,
        max(CASE WHEN treated THEN intercept END) AS int_r,
        max(CASE WHEN NOT treated THEN se_int END) AS se_l,
        max(CASE WHEN treated THEN se_int END) AS se_r
      FROM se
    )
    SELECT CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
           round(sl_l, 6) AS slope_left_per_dollar,
           round(sl_r, 6) AS slope_right_per_dollar,
           round(int_l / 100, 2) AS intercept_left_dollars,
           round(int_r / 100, 2) AS intercept_right_dollars,
           round((int_r - int_l) / 100, 2) AS rd_effect_dollars,
           round(sqrt(se_l * se_l + se_r * se_r) / 100, 2)
             AS se_effect_dollars,
           CAST(abs(int_r - int_l)
                > 1.96 * sqrt(se_l * se_l + se_r * se_r) AS INT)
             AS significant_95
    FROM wide
    """,
)
def regression_discontinuity_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sharp regression-discontinuity estimate (Thistlethwaite &
    Campbell 1960; Imbens & Lemieux 2008) of the effect of crossing a
    $5,000 account-balance cutoff on total customer spend: local
    linear fits on each side of the cutoff within a +/-$3,000
    bandwidth, effect = intercept_right - intercept_left at the
    boundary, with the conventional intercept-variance SE and a 95%
    z-flag. Completes the causal kit's identification-strategy row
    (diff_in_diff: parallel trends; stratified_att: selection on
    observables; RDD: local randomization at a threshold). The
    synthetic balances are independent of spend, so this is a PLACEBO
    design — the honest expectation, pinned in tests, is a
    non-significant effect near 0.

    Determinism: per-side moment sums (n, Sx, Sy, Sxy, Sxx, Syy)
    accumulate in exact DECIMAL(38,0) cents; slope/intercept/SE are
    one identical double expression tree over those exact values (the
    groupwise_ols_trend discipline); negative rounding residue in the
    RSS is clamped at 0 before the sqrt.

    Scale: one orders scan (per-customer spend agg), one customer
    scan with the bandwidth filter pushed to parquet, a 2-row side
    table thereafter."""
    t = load(spark, sf_dir)
    spend = t.orders.groupBy("o_custkey").agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT)"
        ).alias("y")
    )
    bal = F.expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)")
    run = (
        t.customer.select("c_custkey", bal.alias("balc"))
        .filter(
            F.col("balc").between(
                RDD_CUTOFF_CENTS - RDD_BANDWIDTH_CENTS,
                RDD_CUTOFF_CENTS + RDD_BANDWIDTH_CENTS - 1,
            )
        )
        .join(spend, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            (F.col("balc") - RDD_CUTOFF_CENTS).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    sides = run.groupBy((F.col("x") >= 0).alias("treated")).agg(
        *[
            F.expr(e.strip().rsplit(" AS ", 1)[0]).alias(
                e.strip().rsplit(" AS ", 1)[1]
            )
            for e in _RDD_SIDE_STATS.strip().split(",\n")
        ]
    )
    fits = sides.selectExpr(
        "treated",
        "CAST(n AS DOUBLE) AS nd",
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS den",
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope",
        "(CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS intercept",
        "CAST(syy AS DOUBLE) AS syyd",
        "CAST(sy AS DOUBLE) AS syd",
        "CAST(sxy AS DOUBLE) AS sxyd",
        "CAST(sxx AS DOUBLE) AS sxxd",
    )
    se = fits.selectExpr(
        "treated",
        "nd",
        "slope",
        "intercept",
        "sqrt(greatest(syyd - intercept * syd - slope * sxyd, 0.0)"
        " / (nd - 2) * sxxd / den) AS se_int",
    )
    wide = se.agg(
        *[
            F.max(F.when(F.col("treated") == lit, F.col(c))).alias(
                f"{c[:3]}_{suf}"
            )
            for lit, suf in ((False, "l"), (True, "r"))
            for c in ("nd", "slope", "intercept", "se_int")
        ]
    ).toDF("nd_l", "slo_l", "int_l", "se__l", "nd_r", "slo_r", "int_r", "se__r")
    eff = F.col("int_r") - F.col("int_l")
    se2 = F.sqrt(
        F.col("se__l") * F.col("se__l") + F.col("se__r") * F.col("se__r")
    )
    return wide.select(
        F.col("nd_l").cast("long").alias("n_left"),
        F.col("nd_r").cast("long").alias("n_right"),
        F.round(F.col("slo_l"), 6).alias("slope_left_per_dollar"),
        F.round(F.col("slo_r"), 6).alias("slope_right_per_dollar"),
        F.round(F.col("int_l") / 100, 2).alias("intercept_left_dollars"),
        F.round(F.col("int_r") / 100, 2).alias("intercept_right_dollars"),
        F.round(eff / 100, 2).alias("rd_effect_dollars"),
        F.round(se2 / 100, 2).alias("se_effect_dollars"),
        (F.abs(eff) > 1.96 * se2).cast("int").alias("significant_95"),
    )


@register(
    "psm_att_matched",
    oracle="""
    WITH pre AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS x,
             max(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS treated
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY 1
    ),
    outcome AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y96
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1
    ),
    panel AS (
      SELECT p.o_custkey AS k, p.x, p.treated,
             coalesce(o.y96, 0) AS y
      FROM pre p LEFT JOIN outcome o ON o.o_custkey = p.o_custkey
    ),
    lined AS (
      SELECT k, x, treated, y,
             last_value(CASE WHEN treated = 0 THEN x END IGNORE NULLS)
               OVER w_prev AS px,
             last_value(CASE WHEN treated = 0 THEN y END IGNORE NULLS)
               OVER w_prev AS py,
             first_value(CASE WHEN treated = 0 THEN x END IGNORE NULLS)
               OVER w_next AS nx,
             first_value(CASE WHEN treated = 0 THEN y END IGNORE NULLS)
               OVER w_next AS ny
      FROM panel
      WINDOW
        w_prev AS (ORDER BY x, treated, k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        w_next AS (ORDER BY x, treated, k
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    matched AS (
      SELECT k, x, y,
             CASE WHEN px IS NULL THEN ny
                  WHEN nx IS NULL THEN py
                  WHEN x - px <= nx - x THEN py ELSE ny END AS yc,
             CASE WHEN px IS NULL THEN nx - x
                  WHEN nx IS NULL THEN x - px
                  WHEN x - px <= nx - x THEN x - px ELSE nx - x
             END AS dx
      FROM lined WHERE treated = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_treated,
           (SELECT CAST(sum(1 - treated) AS BIGINT) FROM panel)
             AS n_controls,
           round(sum(y) * 1.0 / (100 * count(*)), 4)
             AS mean_treated_dollars,
           round(sum(yc) * 1.0 / (100 * count(*)), 4)
             AS mean_matched_control_dollars,
           round(sum(y - yc) * 1.0 / (100 * count(*)), 4)
             AS att_matched_dollars,
           round(sum(dx) * 1.0 / (100 * count(*)), 4)
             AS mean_match_distance_dollars
    FROM matched
    """,
)
def psm_att_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATT by 1-nearest-neighbor covariate matching WITH REPLACEMENT
    (Abadie & Imbens 2006) on the stratified_att_adjustment scenario:
    each treated customer (high-priority 1995 order) is matched to the
    control whose pre-treatment 1995 spend is nearest, and the ATT on
    1996 spend is the mean matched difference. With-replacement 1-NN
    on a 1-D covariate needs NO pair join at all: sort everyone by the
    covariate once, and each treated unit's match is either the last
    control before it or the first control after it (window functions
    with IGNORE NULLS) — the matching estimator as two windows, the
    estimator-side completion of the causal kit next to
    subclassification (stratified_att_adjustment) and weighting
    (ips_offline_policy_eval).

    Determinism: the sort key chain (x, treated, k) is total, distance
    ties break toward the PREVIOUS control (<=), and all sums are
    exact BIGINT cents; the four output ratios round at the edge.
    Greedy WITHOUT-replacement matching is order-sequential and
    deliberately avoided — with-replacement is the parallelizable
    variant and its bias correction is the documented trade-off.

    Scale: two fact scans (pre/outcome years, date filter pushed), one
    customer-sized panel. The oracle's single global window is
    decomposed into the bucketed two-phase shape (the
    global_order_stats pattern): within-$100k-bucket windows run
    partition-parallel, and only the one-row-per-bucket boundary
    table (value-domain-bounded) sees an unpartitioned window; the
    DuckDB hash match proves the decomposition lossless. No treated x
    control join ever materializes."""
    o = load(spark, sf_dir).orders
    cents = F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
    pre = (
        o.filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(cents).cast("long").alias("x"),
            F.max(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("treated"),
        )
    )
    outcome = (
        o.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy(F.col("o_custkey").alias("k2"))
        .agg(F.sum(cents).cast("long").alias("y96"))
    )
    panel = (
        pre.join(outcome, F.col("o_custkey") == F.col("k2"), "left")
        .select(
            F.col("o_custkey").alias("k"),
            "x",
            "treated",
            F.coalesce("y96", F.lit(0)).alias("y"),
        )
        # narrow staged panel (4 longs/row, customer-level): the in-bucket
        # windows, control summaries, bucket spine and control count
        # otherwise re-run the two fact scans 4x each (plan audit)
        .localCheckpoint(eager=True)
    )
    # two-phase distributed nearest-control: the global sort the oracle
    # window expresses would serialize onto one task in Spark, so the
    # panel is bucketed by a monotone image of x ($100k spend buckets —
    # value-domain-bounded, so the bucket table stays small at any SF),
    # within-bucket windows run partition-parallel, and only the
    # bucket-level boundary table (one row per bucket) sees an
    # unpartitioned window (the global_order_stats pattern).
    panel = panel.withColumn(
        "b", F.floor(F.col("x") / 10_000_000).cast("long")
    )
    order = [F.col("x"), F.col("treated"), F.col("k")]
    wb_prev = (
        W.partitionBy("b").orderBy(*order).rowsBetween(
            W.unboundedPreceding, -1
        )
    )
    wb_next = (
        W.partitionBy("b").orderBy(*order).rowsBetween(
            1, W.unboundedFollowing
        )
    )
    cx = F.when(F.col("treated") == 0, F.col("x"))
    cy = F.when(F.col("treated") == 0, F.col("y"))
    lined_in = panel.select(
        "k",
        "b",
        "x",
        "treated",
        "y",
        F.last(cx, ignorenulls=True).over(wb_prev).alias("px_in"),
        F.last(cy, ignorenulls=True).over(wb_prev).alias("py_in"),
        F.first(cx, ignorenulls=True).over(wb_next).alias("nx_in"),
        F.first(cy, ignorenulls=True).over(wb_next).alias("ny_in"),
    )
    ctrl = panel.filter(F.col("treated") == 0)
    w_last = W.partitionBy("b").orderBy(
        F.col("x").desc(), F.col("k").desc()
    )
    w_first = W.partitionBy("b").orderBy(F.col("x"), F.col("k"))
    summary = (
        ctrl.withColumn("rl", F.row_number().over(w_last))
        .withColumn("rf", F.row_number().over(w_first))
        .filter((F.col("rl") == 1) | (F.col("rf") == 1))
        .groupBy("b")
        .agg(
            F.max(F.when(F.col("rl") == 1, F.col("x"))).alias("last_x"),
            F.max(F.when(F.col("rl") == 1, F.col("y"))).alias("last_y"),
            F.max(F.when(F.col("rf") == 1, F.col("x"))).alias("first_x"),
            F.max(F.when(F.col("rf") == 1, F.col("y"))).alias("first_y"),
        )
    )
    spine = (
        panel.select("b")
        .distinct()
        .join(summary, "b", "left")
        # bucket-count-sized table: the unpartitioned window is bounded
        .select(
            "b",
            F.last(F.col("last_x"), ignorenulls=True)
            .over(W.orderBy("b").rowsBetween(W.unboundedPreceding, -1))
            .alias("prev_bx"),
            F.last(F.col("last_y"), ignorenulls=True)
            .over(W.orderBy("b").rowsBetween(W.unboundedPreceding, -1))
            .alias("prev_by"),
            F.first(F.col("first_x"), ignorenulls=True)
            .over(W.orderBy("b").rowsBetween(1, W.unboundedFollowing))
            .alias("next_bx"),
            F.first(F.col("first_y"), ignorenulls=True)
            .over(W.orderBy("b").rowsBetween(1, W.unboundedFollowing))
            .alias("next_by"),
        )
    )
    lined = lined_in.join(F.broadcast(spine), "b").select(
        "k",
        "x",
        "treated",
        "y",
        F.coalesce("px_in", "prev_bx").alias("px"),
        F.coalesce("py_in", "prev_by").alias("py"),
        F.coalesce("nx_in", "next_bx").alias("nx"),
        F.coalesce("ny_in", "next_by").alias("ny"),
    )
    take_prev = (
        F.col("nx").isNull()
        | (
            F.col("px").isNotNull()
            & (F.col("x") - F.col("px") <= F.col("nx") - F.col("x"))
        )
    )
    matched = lined.filter(F.col("treated") == 1).select(
        "k",
        "x",
        "y",
        F.when(take_prev, F.col("py")).otherwise(F.col("ny")).alias("yc"),
        F.when(take_prev, F.col("x") - F.col("px"))
        .otherwise(F.col("nx") - F.col("x"))
        .alias("dx"),
    )
    n_controls = panel.agg(
        F.sum(1 - F.col("treated")).cast("long").alias("n_controls")
    )
    return (
        matched.agg(
            F.count(F.lit(1)).cast("long").alias("n_treated"),
            F.sum("y").cast("long").alias("sy"),
            F.sum("yc").cast("long").alias("syc"),
            F.sum("dx").cast("long").alias("sdx"),
        )
        .crossJoin(F.broadcast(n_controls))
        .select(
            "n_treated",
            "n_controls",
            F.round(F.col("sy") * 1.0 / (100 * F.col("n_treated")), 4)
            .alias("mean_treated_dollars"),
            F.round(F.col("syc") * 1.0 / (100 * F.col("n_treated")), 4)
            .alias("mean_matched_control_dollars"),
            F.round(
                (F.col("sy") - F.col("syc"))
                * 1.0
                / (100 * F.col("n_treated")),
                4,
            ).alias("att_matched_dollars"),
            F.round(F.col("sdx") * 1.0 / (100 * F.col("n_treated")), 4)
            .alias("mean_match_distance_dollars"),
        )
    )


@register(
    "mantel_haenszel_odds",
    oracle="""
    WITH pre AS (
      SELECT o.o_custkey, c.c_nationkey AS nk,
             max(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS treated
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    conv AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    ),
    panel AS (
      SELECT p.nk, p.treated,
             CASE WHEN cv.o_custkey IS NULL THEN 0 ELSE 1 END AS conv
      FROM pre p LEFT JOIN conv cv ON cv.o_custkey = p.o_custkey
    ),
    cells AS (
      SELECT nk,
             CAST(sum(CASE WHEN treated = 1 AND conv = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN treated = 1 AND conv = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN treated = 0 AND conv = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN treated = 0 AND conv = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM panel GROUP BY nk
    ),
    terms AS (
      SELECT nk, a, b, c, d, a + b + c + d AS n,
             CAST(floor(a * d * 1000000.0 / (a + b + c + d) + 0.001)
                  AS BIGINT) AS r_micro,
             CAST(floor(b * c * 1000000.0 / (a + b + c + d) + 0.001)
                  AS BIGINT) AS s_micro,
             CAST(floor((a + b) * (a + c) * 1000000.0 / (a + b + c + d)
                        + 0.001) AS BIGINT) AS ea_micro,
             CAST(floor((a + b) * (c + d) * 1.0 * (a + c) * (b + d)
                        * 1000000.0
                        / ((a + b + c + d) * 1.0 * (a + b + c + d)
                           * (a + b + c + d - 1)) + 0.001) AS BIGINT)
               AS va_micro
      FROM cells WHERE a + b + c + d > 1
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum(a) AS BIGINT) AS sum_a,
             CAST(sum(r_micro) AS BIGINT) AS sr,
             CAST(sum(s_micro) AS BIGINT) AS ss,
             CAST(sum(ea_micro) AS BIGINT) AS sea,
             CAST(sum(va_micro) AS BIGINT) AS sva
      FROM terms
    )
    SELECT n_strata, sum_a,
           round(CAST(sr AS DOUBLE) / ss, 6) AS mh_odds_ratio,
           round((abs(sum_a * 1000000.0 - sea) - 500000.0)
                 * (abs(sum_a * 1000000.0 - sea) - 500000.0)
                 / (sva * 1000000.0), 6) AS cmh_chi2,
           CAST((abs(sum_a * 1000000.0 - sea) - 500000.0)
                * (abs(sum_a * 1000000.0 - sea) - 500000.0)
                / (sva * 1000000.0) > 3.8415 AS INT) AS significant_95
    FROM agg
    """,
)
def mantel_haenszel_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio and continuity-corrected CMH
    chi-square (Mantel & Haenszel 1959) for the high-priority-1995 ->
    converted-in-1996 2x2 table stratified by customer nation — the
    meta-analytic pooled-effect estimator (OR_MH = sum a_i d_i / n_i
    over sum b_i c_i / n_i) that complements the per-stratum view of
    stratified_att_adjustment and the paired design of
    mcnemar_paired_conversion: many small 2x2s pooled WITHOUT assuming
    a common baseline rate.

    Determinism: each stratum's four cells are exact integers; the
    per-stratum ratio terms a_i d_i/n_i, b_i c_i/n_i, the CMH
    expectation (row*col)/n and hypergeometric variance are each one
    double division floored to 1e-6 fixed point, so the cross-stratum
    sums are exact BIGINT; the final OR and chi2 (with Yates 0.5
    continuity correction in micro units) are identical scalar
    expressions. Degenerate strata (n <= 1) are excluded identically.

    Scale: one orders scan per period, one customer-sized panel, a
    25-row stratum table thereafter."""
    t = load(spark, sf_dir)
    o = t.orders
    pre = (
        o.filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_custkey", "c_nationkey")
        .agg(
            F.max(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("treated")
        )
        .select(
            "o_custkey", F.col("c_nationkey").alias("nk"), "treated"
        )
    )
    conv = (
        o.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
    )
    panel = pre.join(conv, F.col("o_custkey") == F.col("ck"), "left").select(
        "nk",
        "treated",
        F.when(F.col("ck").isNull(), 0).otherwise(1).alias("conv"),
    )
    cells = panel.groupBy("nk").agg(
        *[
            F.sum(
                F.when(
                    (F.col("treated") == tr) & (F.col("conv") == cv), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias(name)
            for name, tr, cv in (
                ("a", 1, 1),
                ("b", 1, 0),
                ("c", 0, 1),
                ("d", 0, 0),
            )
        ]
    )
    terms = cells.filter(
        F.col("a") + F.col("b") + F.col("c") + F.col("d") > 1
    ).selectExpr(
        "nk",
        "a",
        "CAST(floor(a * d * 1000000.0 / (a + b + c + d) + 0.001)"
        " AS BIGINT) AS r_micro",
        "CAST(floor(b * c * 1000000.0 / (a + b + c + d) + 0.001)"
        " AS BIGINT) AS s_micro",
        "CAST(floor((a + b) * (a + c) * 1000000.0 / (a + b + c + d)"
        " + 0.001) AS BIGINT) AS ea_micro",
        "CAST(floor((a + b) * (c + d) * 1.0 * (a + c) * (b + d)"
        " * 1000000.0"
        " / ((a + b + c + d) * 1.0 * (a + b + c + d)"
        "    * (a + b + c + d - 1)) + 0.001) AS BIGINT) AS va_micro",
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("sum_a"),
        F.sum("r_micro").cast("long").alias("sr"),
        F.sum("s_micro").cast("long").alias("ss"),
        F.sum("ea_micro").cast("long").alias("sea"),
        F.sum("va_micro").cast("long").alias("sva"),
    )
    chi2 = (
        (F.abs(F.col("sum_a") * 1_000_000.0 - F.col("sea")) - 500_000.0)
        * (F.abs(F.col("sum_a") * 1_000_000.0 - F.col("sea")) - 500_000.0)
        / (F.col("sva") * 1_000_000.0)
    )
    return agg.select(
        "n_strata",
        "sum_a",
        F.round(F.expr("CAST(sr AS DOUBLE) / ss"), 6).alias(
            "mh_odds_ratio"
        ),
        F.round(chi2, 6).alias("cmh_chi2"),
        (chi2 > 3.8415).cast("int").alias("significant_95"),
    )
