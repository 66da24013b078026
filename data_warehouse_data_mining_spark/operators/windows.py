"""Window-function operators (SURVEY.md §2.2: rank/row_number, lag/lead,
running & framed aggregates, top-k per group, ntile).

All window orderings include a unique key (orderkey / event_id) so
row_number/lag results are deterministic and hash-match the oracle.

Scale note: a window partitioned by a real key (custkey, user_id,
brand) shuffles once on that key and streams within partitions — fine
at 100 TB. None of these use a global (empty-partition) window, which
would serialize onto one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.registry import register


@register(
    "topk_per_group",
    headline=True,
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t
    WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the canonical window top-k. One shuffle
    on the partition key; no global sort."""
    o = load(spark, sf_dir).orders
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn")
    )


@register(
    "running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_spend
    FROM orders
    """,
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) aggregate per customer over order history."""
    o = load(spark, sf_dir).orders
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "lag_lead_deltas",
    oracle="""
    SELECT user_id, event_id,
           round(value - lag(value) OVER w, 2)  AS delta_prev,
           round(lead(value) OVER w - value, 2) AS delta_next
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def lag_lead_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead deltas per user event stream."""
    e = load(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 2).alias("delta_next"),
    )


@register(
    "rank_in_brand",
    oracle="""
    SELECT p_brand, p_partkey,
           rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_rank,
           dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_dense_rank
    FROM part
    """,
)
def rank_in_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank within brand (tie-stable: equal prices share a rank)."""
    p = load(spark, sf_dir).part
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return p.select(
        "p_brand",
        "p_partkey",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


@register(
    "moving_average",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3
    FROM events
    """,
)
def moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average over each user's event stream (ROWS frame)."""
    e = load(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, W.currentRow)
    return e.select(
        "user_id", "event_id", F.round(F.avg("value").over(w), 6).alias("ma3")
    )


@register(
    "ntile_quartiles",
    oracle="""
    SELECT q, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM (
      SELECT o_totalprice,
             ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS q
      FROM orders
    ) t
    GROUP BY q
    """,
)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartile assignment then per-quartile stats.

    Distributed since r3: instead of ``ntile(4) OVER (ORDER BY …)`` —
    whose empty partition collapses every order onto one task — the
    global rank comes from the two-phase bucketed prefix sum
    (operators/ranking.py) and the SQL-standard ntile split is
    reconstructed from (rank, n) by exact integer arithmetic
    (ntile_from_rank). The oracle still runs real ntile, proving the
    reconstruction is bucket-for-bucket identical. Prices order by
    exact cents so the rank tie-break matches the double ordering."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
        ntile_from_rank,
    )

    o = load(spark, sf_dir).orders
    src = (
        o.select(
            "o_totalprice",
            "o_orderkey",
            F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias(
                "price_c"
            ),
        )
        # consumed by the ranking's window + bucket-stats branches
        .localCheckpoint(eager=True)
    )
    n = src.agg(F.count(F.lit(1)).alias("n_pop"))
    # bucket by monotone cents image, rank by the raw double price —
    # exact parity with the oracle's ORDER BY o_totalprice, o_orderkey
    ranked = global_order_stats(
        src,
        "price_c",
        "o_orderkey",
        ascending=True,
        order_value_col="o_totalprice",
    )
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "o_totalprice",
            ntile_from_rank(F.col("global_rank"), F.col("n_pop"), 4).alias("q"),
        )
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "first_last_order",
    oracle="""
    SELECT o_custkey,
           min(o_orderkey) FILTER (WHERE rn_first = 1) AS first_orderkey,
           min(o_orderkey) FILTER (WHERE rn_last = 1)  AS last_orderkey
    FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn_first,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_last
      FROM orders
    ) t
    GROUP BY o_custkey
    """,
)
def first_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event per key via dual row_number (the scalable
    substitute for collecting per-key history)."""
    o = load(spark, sf_dir).orders
    w_first = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_last = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w_first).alias("rn_first"),
            F.row_number().over(w_last).alias("rn_last"),
        )
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn_first") == 1, F.col("o_orderkey"))).alias(
                "first_orderkey"
            ),
            F.min(F.when(F.col("rn_last") == 1, F.col("o_orderkey"))).alias(
                "last_orderkey"
            ),
        )
    )


@register(
    "percent_rank_cume_dist",
    oracle="""
    SELECT o_orderstatus, o_orderkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderstatus
                                          ORDER BY o_totalprice, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS second_cheapest
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions: percent_rank / cume_dist /
    nth_value (unique ordering keys keep all three deterministic)."""
    o = load(spark, sf_dir).orders
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderstatus",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 2).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("second_cheapest"),
    )


@register(
    "event_rate_anomalies",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, day, n,
             CAST(sum(n) OVER pw AS BIGINT) AS s,
             CAST(sum(n * n) OVER pw AS BIGINT) AS ss,
             CAST(count(*) OVER pw AS BIGINT) AS k
      FROM daily
      WINDOW pw AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
           round((n - s / 7.0) / sqrt((ss - s * s / 7.0) / 6.0), 6) AS zscore,
           CASE WHEN abs((n - s / 7.0) / sqrt((ss - s * s / 7.0) / 6.0)) > 3
                THEN 1 ELSE 0 END AS is_anomaly
    FROM w
    WHERE k = 7 AND (ss - s * s / 7.0) > 0
    ORDER BY event_type, day
    """,
)
def event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: per event type, each day's count
    z-scored against the trailing 7 complete days (frame -7..-1, so
    the current day never contaminates its own baseline), flagging
    |z| > 3 — the ops-monitoring rate alarm over the warehouse's own
    event stream.

    Determinism: the rolling mean and sample variance come from exact
    BIGINT sums (s, ss) of integer daily counts, so both engines
    compute identical IEEE doubles with no accumulation-order exposure;
    zero-variance windows are excluded by the same exact predicate on
    both sides. One shuffle to daily counts (map-side partial), one
    |event_type|-partition window over ~30 rows each."""
    e = load(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    pw = W.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    w = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(pw).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(pw).alias("ss"),
        F.count(F.lit(1)).over(pw).alias("k"),
    )
    mean = F.col("s") / 7.0
    var = (F.col("ss") - F.col("s") * F.col("s") / 7.0) / 6.0
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        w.filter(
            (F.col("k") == 7)
            & (F.col("ss") - F.col("s") * F.col("s") / 7.0 > 0)
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            F.round(z, 6).alias("zscore"),
            F.when(F.abs(z) > 3, 1).otherwise(0).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "seasonal_decompose_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    win AS (
      SELECT day, n_events,
             CAST(sum(n_events) OVER w AS BIGINT) AS sum7,
             CAST(count(*) OVER w AS BIGINT) AS cnt7,
             CAST(isodow(day) AS INT) AS dow
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    complete AS (SELECT * FROM win WHERE cnt7 = 7),
    seas AS (
      SELECT dow,
             CAST(sum(7 * n_events - sum7) AS BIGINT) AS s_num,
             CAST(count(*) * 7 AS BIGINT) AS s_den
      FROM complete GROUP BY dow
    )
    SELECT c.day, c.n_events, c.dow,
           round(c.sum7 / 7.0, 6) AS trend,
           round(s.s_num * 1.0 / s.s_den, 6) AS seasonal,
           round(c.n_events - round(c.sum7 / 7.0, 6)
                 - round(s.s_num * 1.0 / s.s_den, 6), 6) AS residual
    FROM complete c JOIN seas s USING (dow)
    ORDER BY c.day
    """,
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily event count:
    trend = centered 7-day moving average (complete windows only),
    weekly seasonal = per-ISO-weekday mean of the detrended series,
    residual = observed − trend − seasonal — the additive
    moving-average decomposition behind every seasonality dashboard
    and anomaly baseline.

    The fact scan collapses to a days-sized table first (one hash-agg
    with map-side partials), so the un-partitioned centered window runs
    over ~hundreds of rows — the same manifest-sized-window argument
    as compaction_bin_packing, safe at any event volume. Determinism:
    the decomposition is kept in INTEGER space (trend as sum7,
    detrended as 7·y − sum7) until a single final division per value,
    so no double accumulation ever happens and both engines emit
    bit-identical results; residual subtracts the ROUNDED trend and
    seasonal so it re-derives exactly from the published columns."""
    e = load(spark, sf_dir).events
    daily = (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = W.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "n_events",
        F.sum("n_events").over(w).alias("sum7"),
        F.count(F.lit(1)).over(w).alias("cnt7"),
        (F.weekday("day") + 1).cast("int").alias("dow"),
    )
    complete = win.filter(F.col("cnt7") == 7)
    seas = complete.groupBy("dow").agg(
        F.sum(7 * F.col("n_events") - F.col("sum7")).alias("s_num"),
        (F.count(F.lit(1)) * 7).alias("s_den"),
    )
    trend = F.round(F.col("sum7") / 7.0, 6)
    seasonal = F.round(F.col("s_num") / F.col("s_den"), 6)
    return (
        complete.join(F.broadcast(seas), "dow")
        .select(
            "day",
            "n_events",
            "dow",
            trend.alias("trend"),
            seasonal.alias("seasonal"),
            F.round(F.col("n_events") - trend - seasonal, 6).alias("residual"),
        )
        .orderBy("day")
    )
