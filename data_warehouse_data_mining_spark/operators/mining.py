"""Behavioral-mining analytics over the event stream: funnels, sequence
bigrams, cohort retention — the classic warehouse "data mining" query
shapes (the course the reference comes from), expressed scale-first:
every one is window functions + hash aggregation, no per-user collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.operators.mining_common import (  # noqa: F401
    _CUPED_SPLIT,
    _EV_CENTS,
)
from data_warehouse_data_mining_spark.registry import register

_FMT = "yyyy-MM-dd HH:mm:ss"


@register(
    "funnel_signup_purchase",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS first_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS first_purchase_after
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.first_signup
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id
    )
    SELECT count(s.user_id) AS n_signed_up,
           count(p.user_id) AS n_converted,
           round(count(p.user_id) * 1.0 / count(s.user_id), 6) AS conversion_rate
    FROM s LEFT JOIN p ON s.user_id = p.user_id
    """,
)
def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage funnel: users who signed up, and of those, who purchased
    AFTER their first signup. Two aggregates + one key-partitioned join."""
    e = load(spark, sf_dir).events
    s = e.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("first_signup")
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s.select(F.col("user_id").alias("s_uid"), "first_signup"),
              (F.col("user_id") == F.col("s_uid")) & (F.col("ts") > F.col("first_signup")))
        .groupBy(F.col("user_id").alias("p_uid"))
        .agg(F.min("ts").alias("first_purchase_after"))
    )
    return (
        s.join(p, F.col("user_id") == F.col("p_uid"), "left")
        .agg(
            F.count("user_id").alias("n_signed_up"),
            F.count("p_uid").alias("n_converted"),
            F.round(F.count("p_uid") / F.count("user_id"), 6).alias("conversion_rate"),
        )
    )


@register(
    "event_sequence_bigrams",
    oracle="""
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ) t
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def event_sequence_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining at bigram depth: consecutive event-type
    transitions per user → global transition counts (the input to a
    Markov-chain / next-event model). One shuffle on user_id, one agg."""
    e = load(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "cohort_retention",
    oracle="""
    WITH fw AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    aw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events)
    SELECT strftime(cohort_week, '%Y-%m-%d %H:%M:%S') AS cohort_week,
           CAST(date_diff('day', cohort_week, active_week) / 7 AS INT) AS week_offset,
           count(*) AS n_users
    FROM aw JOIN fw USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    counted in each subsequent active week. Both inputs partition on
    user_id, so the join is co-partitioned after the aggregates."""
    e = load(spark, sf_dir).events
    fw = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    aw = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        aw.join(fw, "user_id")
        .groupBy(
            F.date_format("cohort_week", _FMT).alias("cohort_week"),
            (F.datediff("active_week", "cohort_week") / 7).cast("int").alias(
                "week_offset"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "multires_rollup",
    oracle="""
    SELECT strftime(date_trunc('day', h), '%Y-%m-%d %H:%M:%S') AS day,
           event_type,
           CAST(sum(n) AS BIGINT) AS n,
           round(sum(v), 2) AS total_value,
           count(*) AS n_hours
    FROM (
      SELECT date_trunc('hour', ts) AS h, event_type,
             count(*) AS n, sum(value) AS v
      FROM events GROUP BY 1, 2
    ) hourly
    GROUP BY 1, 2
    """,
)
def multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the DAILY rollup is
    REAGGREGATED from the hourly rollup, not recomputed from raw events
    — the multi-resolution pattern that makes time-series dashboards
    affordable at 100 TB (each resolution reads the previous one, ~24×
    smaller)."""
    e = load(spark, sf_dir).events
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    return hourly.groupBy(
        F.date_format(F.date_trunc("day", F.col("h")), _FMT).alias("day"),
        "event_type",
    ).agg(
        F.sum("n").alias("n"),
        F.round(F.sum("v"), 2).alias("total_value"),
        F.count(F.lit(1)).alias("n_hours"),
    )


@register(
    "timeseries_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events WHERE event_type = 'purchase'
    ),
    hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ),
    actual AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS n,
             round(sum(value), 2) AS total
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT strftime(hour_start, '%Y-%m-%d %H:%M:%S') AS hour_start,
           coalesce(n, 0) AS n,
           coalesce(total, 0.0) AS total
    FROM hours LEFT JOIN actual ON actual.h = hours.hour_start
    """,
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time series from sparse events: generate the full hourly
    spine (sequence + explode) and left-join the actual aggregates, so
    silent gaps become explicit zeros — the prerequisite for any
    window/forecast model over event data. The spine generation is one
    row → N, driver-free."""
    e = load(spark, sf_dir).events.filter(F.col("event_type") == "purchase")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_start")
    )
    actual = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.round(F.sum("value"), 2).alias("total_raw"),
    )
    return (
        hours.join(actual, F.col("hour_start") == F.col("h"), "left")
        .select(
            F.date_format("hour_start", _FMT).alias("hour_start"),
            F.coalesce(F.col("n_raw"), F.lit(0)).alias("n"),
            F.coalesce(F.col("total_raw"), F.lit(0.0)).alias("total"),
        )
    )


@register(
    "rolling_distinct_users",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM daily)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           count(DISTINCT daily.user_id) AS users_7d
    FROM days
    JOIN daily ON daily.d <= days.d
              AND daily.d >  days.d - INTERVAL 7 DAY
    GROUP BY days.d
    ORDER BY day
    """,
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the rolling
    COUNT(DISTINCT) a RANGE window cannot express distributively.

    Scale-right formulation: dedupe to (day, user) pairs first (one
    hash aggregate — the only pass over the raw events), then re-join
    the tiny day spine (broadcast) against the pairs with the trailing
    range predicate and re-count. No global single-partition window,
    no per-user state; the join fan-out is bounded at 7 pairs per
    (day, user)."""
    ev = load(spark, sf_dir).events
    daily = ev.select(
        F.date_trunc("day", F.col("ts")).alias("d"), "user_id"
    ).distinct()
    days = daily.select(F.col("d").alias("spine_d")).distinct()
    return (
        daily.join(
            F.broadcast(days),
            (F.col("d") <= F.col("spine_d"))
            & (F.col("d") > F.col("spine_d") - F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("spine_d")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .select(F.date_format("spine_d", "yyyy-MM-dd").alias("day"), "users_7d")
        .orderBy("day")
    )


@register(
    "time_weighted_average",
    oracle="""
    WITH pts AS (
      SELECT user_id, value,
             epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
      FROM events
    )
    SELECT user_id,
           round(CAST(sum(CAST(value AS DECIMAL(28,9)) * (t_next - t)) AS DOUBLE)
                 / (max(t_next) - min(t)), 6) AS twa_value,
           count(*) AS n_segments
    FROM pts
    WHERE t_next IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's value series (hypertable-
    style op for irregularly sampled series): each reading is held until
    the next one, weighted by its holding duration (last-observation-
    carried-forward integration). A plain arithmetic mean over-weights
    bursts; the TWA is the honest summary. One window pass + one hash
    aggregate, both partitioned by user — no global window. Durations
    are exact integer MICROSECONDS on both sides (DuckDB epoch() is
    fractional-seconds, Spark unix_timestamp() truncates — both traps);
    per-term DECIMAL keeps the weighted sum exact, so both engines
    round alike."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pts = load(spark, sf_dir).events.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    return (
        pts.groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(28,9)") * (F.col("t_next") - F.col("t")))
                .cast("double")
                / (F.max("t_next") - F.min("t")),
                6,
            ).alias("twa_value"),
            F.count(F.lit(1)).alias("n_segments"),
        )
        .orderBy("user_id")
    )


@register(
    "sessionize_events",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    numbered AS (
      SELECT user_id, event_id, ts,
             sum(CASE WHEN gap_us IS NULL OR gap_us > 14400000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_n
      FROM seq
    )
    SELECT user_id,
           CAST(session_n AS INT) AS session_n,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM numbered
    GROUP BY user_id, session_n
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap-based session assignment (a new
    session starts after >4 h of inactivity), the batch twin of the
    streaming session window (streaming/windows.py). The boundary lag,
    the session-numbering cumulative sum, and the per-session aggregate
    all partition on user_id — Catalyst plans ONE shuffle and one sort
    for the whole query, which is the shape that survives 100 TB of
    events. Gaps compare as exact integer microseconds on both engines
    (see time_weighted_average's trap notes)."""
    e = load(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    numbered = e.withColumn(
        "session_n",
        F.sum(
            F.when(gap.isNull() | (gap > 14_400_000_000), 1).otherwise(0)
        )
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("int"),
    )
    return numbered.groupBy("user_id", "session_n").agg(
        F.date_format(F.min("ts"), _FMT).alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
    )


@register(
    "ewma_per_user",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    acc AS (
      SELECT user_id, rn,
             power(0.8, rn) * sum(
               (CASE WHEN rn = 1 THEN 1.0 ELSE 0.2 END)
               * value / power(0.8, rn))
               OVER (PARTITION BY user_id ORDER BY rn
                     ROWS UNBOUNDED PRECEDING) AS ewma,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM seq
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           round(ewma, 6) AS ewma_value
    FROM acc WHERE rn = n ORDER BY user_id
    """,
)
def ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 0.2) of each
    user's event values — the standard online smoother, which is
    RECURSIVE (s_i = a*x_i + (1-a)*s_{i-1}) and so looks
    window-inexpressible. The closed form
    s_n = (1-a)^n * sum_i(w_i * x_i / (1-a)^i), w_1 = 1, w_i = a,
    turns it into one cumulative-sum window — no recursion, no UDF, one
    shuffle on user_id shared by the row-number and the cumsum.

    Numerics: (1-a)^-i grows exponentially; doubles overflow past
    ~6700 events per user at a=0.2 — beyond that, chunk the series and
    chain chunk-final states (the same recursion, applied per chunk).
    Rounded to 6 decimals: libm pow differs from JVM pow by ulps
    (correlation_matrix canon)."""
    e = load(spark, sf_dir).events
    w = W.partitionBy("user_id")
    seq = e.select(
        "user_id",
        "value",
        F.row_number().over(w.orderBy("ts", "event_id")).alias("rn"),
    )
    decay = F.pow(F.lit(0.8), F.col("rn"))
    term = (
        F.when(F.col("rn") == 1, 1.0).otherwise(0.2) * F.col("value") / decay
    )
    acc = seq.select(
        "user_id",
        "rn",
        (
            decay
            * F.sum(term).over(
                w.orderBy("rn").rowsBetween(W.unboundedPreceding, W.currentRow)
            )
        ).alias("ewma"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return (
        acc.filter(F.col("rn") == F.col("n"))
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_events"),
            F.round("ewma", 6).alias("ewma_value"),
        )
        .orderBy("user_id")
    )


@register(
    "ohlc_bars",
    oracle="""
    WITH base AS (
      SELECT date_trunc('hour', ts) AS bar, event_type, value, ts, event_id
      FROM events
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY bar, event_type
                                ORDER BY ts, event_id)            AS rn_a,
             row_number() OVER (PARTITION BY bar, event_type
                                ORDER BY ts DESC, event_id DESC)  AS rn_d
      FROM base
    )
    SELECT strftime(bar, '%Y-%m-%d %H:%M:%S') AS bar,
           event_type,
           round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
           round(max(value), 2)                              AS high,
           round(min(value), 2)                              AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 2) AS close,
           count(*) AS n_events
    FROM ranked
    GROUP BY bar, event_type
    ORDER BY bar, event_type
    """,
)
def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling: per (hour, event_type) bar, the opening value,
    high, low, and closing value — the canonical time-series
    downsampling every metrics/market warehouse ships.

    One hash aggregate, no window: open/close come from min_by/max_by
    keyed on a (ts, event_id) struct (event_id breaks timestamp ties,
    so the pick is deterministic in both engines — the oracle mirrors
    with double row_number ranking). Partial aggregation is map-side;
    at 100 TB this is a single shuffle of (bar, type) partials, not a
    per-bar sort.
    """
    e = load(spark, sf_dir).events
    okey = F.struct("ts", "event_id")
    return (
        e.select(
            F.date_trunc("hour", F.col("ts")).alias("bar_ts"),
            "event_type",
            "value",
            "ts",
            "event_id",
        )
        .groupBy("bar_ts", "event_type")
        .agg(
            F.round(F.min_by("value", okey), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", okey), 2).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("bar_ts", "yyyy-MM-dd HH:mm:ss").alias("bar"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
        .orderBy("bar", "event_type")
    )


@register(
    "ab_test_conversion",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8' THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT) AS conv_b
      FROM assign
    )
    SELECT n_a, conv_a, n_b, conv_b,
           round(conv_a * 1.0 / n_a, 6) AS rate_a,
           round(conv_b * 1.0 / n_b, 6) AS rate_b,
           CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN
             round((conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
                   / sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                          * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b)), 6)
           END AS z_score
    FROM arms
    """,
)
def ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically hash-split into
    two arms (md5 first-nibble threshold — the same engine-stable
    assignment trick as deterministic_hash_sample, so re-runs and
    backfills agree), per-arm purchase-conversion rates, and the
    pooled two-proportion z statistic the analyst compares to ±1.96.

    Conversion is "14+ purchases" (every synthetic user purchases at
    least once, so a has-purchase flag would saturate both arms at 1.0
    and zero the pooled variance — ANSI Spark then raises on the 0/0).
    The z column is NULL when the pool is degenerate (all or none
    converted), guarded identically in both engines.

    One scan: per-user conversion flags come from a user-keyed
    hash-agg (map-side partials), the arm rollup is a 1-row conditional
    aggregate of that, and the z arithmetic runs once on exact integer
    counts — no doubles accumulate, both engines agree bit-for-bit."""
    e = load(spark, sf_dir).events
    arm = F.when(F.md5(F.col("user_id").cast("string")) < "8", "A").otherwise("B")
    assign = e.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14, 1
        )
        .otherwise(0)
        .alias("converted")
    ).withColumn("arm", arm)
    arms = assign.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    ra = F.col("conv_a") / F.col("n_a")
    rb = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    z = (ra - rb) / F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    n_conv = F.col("conv_a") + F.col("conv_b")
    n_all = F.col("n_a") + F.col("n_b")
    return arms.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.when((n_conv > 0) & (n_conv < n_all), F.round(z, 6)).alias("z_score"),
    )


@register(
    "target_mean_encoding",
    oracle="""
    WITH cat AS (
      SELECT o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderpriority
    ),
    overall AS (SELECT CAST(sum(sum_price) AS DOUBLE) AS gsum,
                       CAST(sum(n_orders) AS BIGINT) AS gn FROM cat)
    SELECT priority, n_orders,
           round(sum_price, 2) AS sum_price,
           round((sum_price + 10.0 * (gsum / gn)) / (n_orders + 10.0), 6)
               AS enc_smoothed
    FROM cat CROSS JOIN overall
    ORDER BY priority
    """,
)
def target_mean_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target-mean encoding (the leakage-prone trick done
    right): each o_orderpriority category encoded as the shrinkage
    blend (sum_cat + m·global_mean) / (n_cat + m), m=10 — rare
    categories pull toward the global mean instead of memorizing noise.

    One fact scan; category sums go through DECIMAL (the money_sum
    canon) so the per-category totals are exact rationals and the
    global mean is derived sum/count — every double in the encoding
    expression is identical in both engines. The encoder output is a
    category-sized broadcastable mapping table, the standard shape for
    joining back onto a 100 TB training set."""
    o = load(spark, sf_dir).orders
    # 5-row category table; checkpoint so the global-mean regroup and
    # the encoder projection don't each re-scan orders.
    cat = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
            .cast("double")
            .alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    glob = cat.agg(
        F.sum("sum_price").cast("double").alias("gsum"), F.sum("n_orders").alias("gn")
    )
    enc = (F.col("sum_price") + 10.0 * (F.col("gsum") / F.col("gn"))) / (
        F.col("n_orders") + 10.0
    )
    return (
        cat.crossJoin(F.broadcast(glob))
        .select(
            "priority",
            "n_orders",
            F.round("sum_price", 2).alias("sum_price"),
            F.round(enc, 6).alias("enc_smoothed"),
        )
        .orderBy("priority")
    )


@register(
    "chi2_feature_association",
    oracle="""
    WITH cells AS (
      SELECT c_mktsegment AS segment,
             CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS pos,
             count(*) AS n
      FROM customer GROUP BY 1, 2
    ),
    rt AS (SELECT segment, CAST(sum(n) AS BIGINT) AS row_n FROM cells GROUP BY segment),
    ct AS (SELECT pos, CAST(sum(n) AS BIGINT) AS col_n FROM cells GROUP BY pos),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells)
    SELECT segment, pos, CAST(n AS BIGINT) AS n_obs,
           round(row_n * col_n * 1.0 / t, 6) AS n_exp,
           round(pow(n - row_n * col_n * 1.0 / t, 2)
                 / (row_n * col_n * 1.0 / t), 6) AS chi2_term
    FROM cells JOIN rt USING (segment) JOIN ct USING (pos) CROSS JOIN tot
    ORDER BY segment, pos
    """,
)
def chi2_feature_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature/label association (the filter-method feature
    selector): contingency of c_mktsegment × sign(c_acctbal) with the
    per-cell (obs − exp)²/exp contribution in long format — the
    consumer sums chi2_term against chi-square((r−1)(c−1)) to rank
    features before training.

    One scan builds the cell counts (segments × 2 hash-agg); marginals
    and the total are regroups of that tiny table, expectations are
    exact integer ratios, and the chi2 arithmetic is per-cell — no
    accumulated doubles anywhere (the same long-format determinism
    pattern as dq_distribution_drift's psi_term)."""
    c = load(spark, sf_dir).customer
    cells = (
        c.select(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("c_acctbal") > 0, 1).otherwise(0).alias("pos"),
        )
        .groupBy("segment", "pos")
        .agg(F.count(F.lit(1)).alias("n"))
        # <=10 rows; checkpoint so the three regroups below don't re-scan.
        .localCheckpoint(eager=True)
    )
    rt = cells.groupBy("segment").agg(F.sum("n").alias("row_n"))
    ct = cells.groupBy("pos").agg(F.sum("n").alias("col_n"))
    tot = cells.agg(F.sum("n").alias("t"))
    exp = F.col("row_n") * F.col("col_n") / F.col("t")
    return (
        cells.join(F.broadcast(rt), "segment")
        .join(F.broadcast(ct), "pos")
        .crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "pos",
            F.col("n").alias("n_obs"),
            F.round(exp, 6).alias("n_exp"),
            F.round(F.pow(F.col("n") - exp, 2) / exp, 6).alias("chi2_term"),
        )
        .orderBy("segment", "pos")
    )


@register(
    "groupwise_ols_trend",
    oracle="""
    WITH pts AS (
      SELECT n_name,
             CAST(year(o_orderdate) - 1995 AS BIGINT) AS x,
             CAST(o_totalprice AS DECIMAL(28,4)) AS y
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    ),
    sums AS (
      SELECT n_name,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
      FROM pts GROUP BY n_name
    )
    SELECT n_name, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
               AS intercept
    FROM sums ORDER BY n_name
    """,
)
def groupwise_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-models regression: per-nation closed-form OLS of order
    value against (centered) order year — slope = yearly revenue trend
    per market, the grouped-regression shape that fits millions of
    per-key models in ONE aggregation pass instead of millions of
    MLlib fits.

    The moment sums (n, Σx, Σx², Σy, Σxy) are the entire sufficient
    statistic: x is a small centered integer and the y sums go through
    DECIMAL (money canon), so every sum is an exact rational; the
    decimal→double conversion is IEEE round-to-nearest of the same
    exact value in both engines and the slope/intercept arithmetic is
    one fixed-order expression — bit-identical results. The dim joins
    carry no forced hints (customer is SF-proportional — AQE broadcasts
    when it fits); the only guaranteed fact shuffle is the final
    25-group agg's."""
    t = load(spark, sf_dir)
    pts = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            (F.year("o_orderdate") - 1995).cast("long").alias("x"),
            F.col("o_totalprice").cast("decimal(28,4)").alias("y"),
        )
    )
    sums = pts.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        "n_name",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    ).orderBy("n_name")


@register(
    "conversion_latency_quantiles",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS first_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS first_purchase
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.first_signup
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT CAST(isodow(s.first_signup) AS INT) AS signup_dow,
             CAST(date_diff('microsecond', s.first_signup, p.first_purchase)
                  AS BIGINT) AS latency_us
      FROM s JOIN p USING (user_id)
    )
    SELECT signup_dow,
           CAST(count(*) AS BIGINT) AS n_conversions,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY latency_us) / 1e6, 6)
               AS p50_latency_s,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY latency_us) / 1e6, 6)
               AS p90_latency_s
    FROM lat GROUP BY signup_dow ORDER BY signup_dow
    """,
)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: exact p50/p90 of the first-signup →
    first-subsequent-purchase latency, grouped by signup weekday — the
    funnel-latency readout product teams watch, with EXACT interpolated
    percentiles at any scale via the sketch-bracketed selection helper
    (`exact_group_percentiles` — no per-group whole-column agg buffer).

    Latencies rank as exact integer microsecond differences; the
    engines' percentile interpolations can differ in the last ulp
    (different a·(1−f)+b·f orderings), so the OUTPUT is seconds —
    dividing by 1e6 puts the 6-decimal rounding four orders above the
    ulp noise. Joins partition on user_id (the aggregates already
    shuffled there)."""
    from data_warehouse_data_mining_spark.operators.relational import (
        exact_group_percentiles,
    )

    e = load(spark, sf_dir).events
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(
            s.select(F.col("user_id").alias("s_uid"), "first_signup"),
            (F.col("user_id") == F.col("s_uid")) & (F.col("ts") > F.col("first_signup")),
        )
        .groupBy(F.col("user_id").alias("p_uid"))
        .agg(F.min("ts").alias("first_purchase"))
    )
    lat = (
        s.join(p, F.col("user_id") == F.col("p_uid"))
        .select(
            (F.weekday("first_signup") + 1).cast("int").alias("signup_dow"),
            (F.unix_micros("first_purchase") - F.unix_micros("first_signup")).alias(
                "latency_us"
            ),
        )
        # converted-users-sized; the percentile helper makes three passes
        # (sketch, counting, bracket rank) and the count regroup a fourth —
        # checkpoint so none of them re-runs the two event joins.
        .localCheckpoint(eager=True)
    )
    per_p = exact_group_percentiles(lat, "signup_dow", "latency_us", [0.5, 0.9])
    counts = lat.groupBy("signup_dow").agg(F.count(F.lit(1)).alias("n_conversions"))
    return (
        per_p.groupBy("signup_dow")
        .pivot("pid", [0, 1])
        .agg(F.first("val"))
        .join(F.broadcast(counts), "signup_dow")
        .select(
            "signup_dow",
            "n_conversions",
            F.round(F.col("0") / 1e6, 6).alias("p50_latency_s"),
            F.round(F.col("1") / 1e6, 6).alias("p90_latency_s"),
        )
        .orderBy("signup_dow")
    )


@register(
    "survival_km_curve",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             CAST(date_trunc('day', min(ts)) AS DATE) AS first_day,
             CAST(date_trunc('day', max(ts)) AS DATE) AS last_day
      FROM events GROUP BY user_id
    ),
    bounds AS (SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS end_day FROM events),
    lives AS (
      SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT) AS t_days,
             CASE WHEN date_diff('day', last_day, end_day) < 14 THEN 0 ELSE 1 END
               AS churned
      FROM spans CROSS JOIN bounds
    ),
    per_t AS (
      SELECT t_days,
             CAST(sum(churned) AS BIGINT) AS n_churned,
             CAST(sum(1 - churned) AS BIGINT) AS n_censored,
             CAST(count(*) AS BIGINT) AS n_total
      FROM lives GROUP BY t_days
    ),
    risk AS (
      SELECT t_days, n_churned, n_censored,
             CAST(sum(n_total) OVER (ORDER BY t_days ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
      FROM per_t
    )
    SELECT t_days, n_risk, n_churned, n_censored,
           round(exp(sum(CASE WHEN n_churned > 0
                              THEN ln(1 - n_churned * 1.0 / n_risk)
                              ELSE 0.0 END)
                     OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)), 6) AS km_survival
    FROM risk ORDER BY t_days
    """,
)
def survival_km_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival (product-limit) estimate of user lifetime:
    per distinct lifetime-day, the at-risk count (reverse cumulative),
    churn/censor counts, and S(t) = Π_{s≤t} (1 − d_s/n_s) — retention
    survival with right-censoring (users last seen within 14 days of
    the dataset end may still be active and only leave the risk set).

    The event stream collapses to one row per user (one user_id
    shuffle), then to one row per distinct lifetime-day, so both
    windows run over a ~hundreds-row table (manifest-sized-window
    argument). The product is exp of a running ln-sum; terms are exact
    integer ratios, the sum is O(100) values of O(1), so the 1e-16-ulp
    window-tree differences between engines sit ~8 orders below the
    6-decimal rounding."""
    e = load(spark, sf_dir).events
    spans = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_day"),
        F.to_date(F.max("ts")).alias("last_day"),
    )
    bounds = e.agg(F.to_date(F.max("ts")).alias("end_day"))
    lives = spans.crossJoin(F.broadcast(bounds)).select(
        F.datediff("last_day", "first_day").cast("long").alias("t_days"),
        F.when(F.datediff("end_day", "last_day") < 14, 0).otherwise(1).alias("churned"),
    )
    per_t = (
        lives.groupBy("t_days")
        .agg(
            F.sum("churned").alias("n_churned"),
            F.sum(1 - F.col("churned")).alias("n_censored"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )
    w_risk = W.orderBy("t_days").rowsBetween(W.currentRow, W.unboundedFollowing)
    w_km = W.orderBy("t_days").rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = per_t.withColumn("n_risk", F.sum("n_total").over(w_risk))
    ln_term = F.when(
        F.col("n_churned") > 0, F.log(1 - F.col("n_churned") / F.col("n_risk"))
    ).otherwise(0.0)
    return risk.select(
        "t_days",
        "n_risk",
        "n_churned",
        "n_censored",
        F.round(F.exp(F.sum(ln_term).over(w_km)), 6).alias("km_survival"),
    ).orderBy("t_days")


@register(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(n_events) AS BIGINT) AS n_tot FROM daily),
    cus AS (
      SELECT day, n_events,
             CAST(sum(n_days * n_events - n_tot)
                  OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS cusum_scaled
      FROM daily CROSS JOIN tot
    ),
    peak AS (SELECT max(abs(cusum_scaled)) AS peak_abs FROM cus)
    SELECT day, n_events, cusum_scaled,
           CASE WHEN abs(cusum_scaled) = peak_abs THEN 1 ELSE 0 END AS is_changepoint
    FROM cus CROSS JOIN peak
    ORDER BY day
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily event rate: the
    cumulative sum of deviations from the global mean peaks (in
    absolute value) at the most likely level-shift day — the classic
    single-change-point estimator, flagged per day.

    Deviations stay in INTEGER space: cusum_k = Σ(n_days·y_i − n_tot)
    is the ×n_days-scaled deviation sum, so no double ever exists and
    both engines agree exactly. The fact scan collapses to a days-sized
    table first; both the running window and the 1-row peak regroup
    run over that."""
    e = load(spark, sf_dir).events
    daily = (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("n_events").alias("n_tot")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cus = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "cusum_scaled",
            F.sum(
                F.col("n_days") * F.col("n_events") - F.col("n_tot")
            ).over(w),
        )
    )
    peak = cus.agg(F.max(F.abs(F.col("cusum_scaled"))).alias("peak_abs"))
    return (
        cus.crossJoin(F.broadcast(peak))
        .select(
            "day",
            "n_events",
            "cusum_scaled",
            F.when(F.abs(F.col("cusum_scaled")) == F.col("peak_abs"), 1)
            .otherwise(0)
            .alias("is_changepoint"),
        )
        .orderBy("day")
    )


@register(
    "funnel_three_step",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s.t_signup
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_signup,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase,
           round((SELECT count(*) FROM c) * 1.0
                 / (SELECT count(*) FROM s), 6) AS click_rate,
           round((SELECT count(*) FROM p) * 1.0
                 / (SELECT count(*) FROM c), 6) AS purchase_rate
    """,
)
def funnel_three_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered three-step funnel (signup → later click → later
    purchase): each stage's earliest qualifying timestamp must follow
    the previous stage's, the sequential-conversion shape one window
    short of full funnel analytics tools.

    Each stage is a user-keyed filter+agg joined to the previous
    stage's (user, ts) — all three joins and aggs partition on
    user_id, so after the first shuffle every stage is co-partitioned;
    the final readout is three 1-row counts. All integers until two
    final exact-ratio divisions."""
    e = load(spark, sf_dir).events
    # each stage table is users-sized and feeds BOTH the next stage's
    # join and its own count — checkpoint so the event scan per stage
    # happens once instead of once per downstream consumer.
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
        .localCheckpoint(eager=True)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s.withColumnRenamed("user_id", "s_uid"),
              (F.col("user_id") == F.col("s_uid")) & (F.col("ts") > F.col("t_signup")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .localCheckpoint(eager=True)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c.withColumnRenamed("user_id", "c_uid"),
              (F.col("user_id") == F.col("c_uid")) & (F.col("ts") > F.col("t_click")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    ns = s.agg(F.count(F.lit(1)).alias("n_signup"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase"))
    return (
        ns.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_signup",
            "n_click",
            "n_purchase",
            F.round(F.col("n_click") / F.col("n_signup"), 6).alias("click_rate"),
            F.round(F.col("n_purchase") / F.col("n_click"), 6).alias("purchase_rate"),
        )
    )


@register(
    "session_bounce_rate",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    numbered AS (
      SELECT user_id,
             sum(CASE WHEN gap_us IS NULL OR gap_us > 14400000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_n
      FROM seq
    ),
    sessions AS (
      SELECT user_id, session_n, count(*) AS n_events
      FROM numbered GROUP BY user_id, session_n
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS bounce_rate,
           round(sum(n_events) * 1.0 / count(*), 6) AS avg_session_events
    FROM sessions
    """,
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-quality readout over the gap-based sessionization (same
    4 h boundary as sessionize_events): bounce rate (single-event
    sessions) and mean session depth — the engagement KPI pair on top
    of the session table. Everything stays in the one user_id
    shuffle the sessionizer already pays; the readout is a 1-row
    integer aggregate with exact-ratio divisions."""
    e = load(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    numbered = e.withColumn(
        "session_n",
        F.sum(F.when(gap.isNull() | (gap > 14_400_000_000), 1).otherwise(0)).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    sessions = numbered.groupBy("user_id", "session_n").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return sessions.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounce.alias("n_bounces"),
        F.round(bounce / F.count(F.lit(1)), 6).alias("bounce_rate"),
        F.round(F.sum("n_events") / F.count(F.lit(1)), 6).alias(
            "avg_session_events"
        ),
    )


@register(
    "time_decay_ltv",
    oracle="""
    WITH ref AS (SELECT max(ts) AS now_ts FROM events),
    scored AS (
      SELECT user_id,
             value * exp(-0.05 * (date_diff('microsecond', ts, now_ts)
                                  / 86400000000.0)) AS decayed
      FROM events CROSS JOIN ref
      WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(decayed), 4) AS decayed_ltv
    FROM scored GROUP BY user_id
    ORDER BY round(sum(decayed), 4) DESC, user_id
    LIMIT 50
    """,
)
def time_decay_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay customer value (half-life ≈ 14 days,
    λ=0.05/day): each purchase contributes value·e^(−λ·age) against
    the dataset's reference time — the recency-weighted LTV ranking
    marketing scores segments by, and the batch analogue of a
    streaming decayed counter.

    One scan with an early event_type pushdown filter; ages are exact
    integer microseconds scaled by one division, so each per-row decay
    factor is the same IEEE double in both engines. Per-user sums
    accumulate ~tens of O(1) doubles — 1e-14 error against 4-decimal
    rounding. Top-50 ordered by the ROUNDED value (then user) so the
    cut can't flip on summation-order ulps."""
    e = load(spark, sf_dir).events
    ref = e.agg(F.max("ts").alias("now_ts"))
    age_days = (F.unix_micros("now_ts") - F.unix_micros("ts")) / 86_400_000_000.0
    scored = (
        e.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(ref))
        .select("user_id", (F.col("value") * F.exp(-0.05 * age_days)).alias("decayed"))
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("decayed"), 4).alias("decayed_ltv"),
        )
        .orderBy(F.col("decayed_ltv").desc(), "user_id")
        .limit(50)
    )


@register(
    "activity_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap (events + distinct users per
    cell) — the load-profile matrix behind capacity planning and
    anomaly baselines. One scan, 168-cell hash-agg; the distinct count
    shuffles on (dow, hour, user) partials first, never holding a
    per-cell user set in one task."""
    e = load(spark, sf_dir).events
    return (
        e.groupBy(
            (F.weekday("ts") + 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("dow", "hour_of_day")
    )


@register(
    "gaps_islands_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    anchored AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', day)
               - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, island, CAST(count(*) AS BIGINT) AS streak_len
      FROM anchored GROUP BY user_id, island
    )
    SELECT streak_len,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM streaks
    GROUP BY streak_len
    ORDER BY streak_len
    """,
)
def gaps_islands_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-day activity streaks per user,
    reduced to a streak-length distribution (how many runs of exactly N
    consecutive active days exist, and how many users have one).

    The classic SQL pattern — anchor = day_number − row_number is
    constant within a run of consecutive days — needs only a window
    partitioned BY USER, so it parallelizes perfectly: one shuffle on
    user_id, then two hash-aggs. Day arithmetic is done on integer
    epoch-day anchors so both engines agree exactly."""
    e = load(spark, sf_dir).events
    days = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    anchored = days.select(
        "user_id",
        (
            F.datediff("day", F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("island"),
    )
    streaks = anchored.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return (
        streaks.groupBy("streak_len")
        .agg(
            F.count(F.lit(1)).alias("n_streaks"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("streak_len")
    )


@register(
    "acf_daily_orders",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT l.lag AS lag_days, d1.n AS x, d2.n AS y
      FROM daily d1
      CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
      JOIN daily d2 ON d2.day = d1.day + CAST(l.lag AS INT)
    ),
    m AS (
      -- DECIMAL(38,0) moments: int64 sits at ~93% of range for the
      -- squared sums at extreme scale (the gini precedent)
      SELECT lag_days,
             CAST(count(*)   AS DECIMAL(38,0)) AS np,
             CAST(sum(x)     AS DECIMAL(38,0)) AS sx,
             CAST(sum(y)     AS DECIMAL(38,0)) AS sy,
             CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(y * y) AS DECIMAL(38,0)) AS syy
      FROM pairs GROUP BY lag_days
    )
    SELECT CAST(lag_days AS BIGINT) AS lag_days,
           CAST(np AS BIGINT) AS n_pairs,
           CASE WHEN CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                THEN round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt((CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  * (CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                ELSE 0.0 END AS acf
    FROM m
    ORDER BY lag_days
    """,
)
def acf_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily order-count series at lags 1..7 —
    the weekly-seasonality diagnostic (a spike at lag 7 = weekly cycle).

    The series is built once (one scan, day hash-agg), the 7 lags come
    from ONE self-join: the left side explodes each day into (day,
    lag→match_day) probes, so every lag shares a single shuffle instead
    of 7 joins. Pearson correlation per lag is assembled from exact
    integer moment sums (Σx, Σxy, …) — only the final ratio is floating
    point, computed identically from identical integers in both
    engines. Degenerate (zero-variance) lags report 0."""
    o = load(spark, sf_dir).orders
    daily = (
        o.groupBy(F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        # days-sized; probe and match sides both read it — one scan
        .localCheckpoint(eager=True)
    )
    probes = daily.select(
        "day",
        F.col("n").alias("x"),
        F.explode(F.array(*[F.lit(i) for i in range(1, 8)])).alias("lag_days"),
    ).withColumn("match_day", F.date_add("day", F.col("lag_days")))
    pairs = probes.join(
        daily.select(F.col("day").alias("match_day"), F.col("n").alias("y")),
        "match_day",
    )
    # moments accumulate in DECIMAL(38,0) (exact at any scale — int64
    # squared-sums overflow around SF 1e5); the corr ratio converts the
    # exact decimals to double identically in both engines
    m = pairs.groupBy("lag_days").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("np"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    d = {c: F.col(c).cast("double") for c in ("np", "sx", "sy", "sxy", "sxx", "syy")}
    varx = d["np"] * d["sxx"] - d["sx"] * d["sx"]
    vary = d["np"] * d["syy"] - d["sy"] * d["sy"]
    cov = d["np"] * d["sxy"] - d["sx"] * d["sy"]
    return m.select(
        F.col("lag_days").cast("long").alias("lag_days"),
        F.col("np").cast("long").alias("n_pairs"),
        F.when(
            (varx > 0) & (vary > 0),
            F.round(cov / F.sqrt(varx * vary), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("acf"),
    ).orderBy("lag_days")


@register(
    "xyz_demand_variability",
    oracle="""
    WITH weekly AS (
      SELECT l_partkey AS pk, date_trunc('week', l_shipdate) AS wk,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT pk,
             CAST(count(*)  AS BIGINT) AS n,
             CAST(sum(q)    AS BIGINT) AS sq,
             CAST(sum(q * q) AS BIGINT) AS sqq
      FROM weekly GROUP BY pk
    ),
    classed AS (
      SELECT pk, sq,
             CASE WHEN 4 * (n * sqq - sq * sq) < sq * sq THEN 'X'
                  WHEN n * sqq - sq * sq < sq * sq THEN 'Y'
                  ELSE 'Z' END AS xyz_class,
             sqrt(CAST(n * sqq - sq * sq AS DOUBLE)) / sq AS cv
      FROM m
    )
    SELECT xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(sq) AS BIGINT) AS total_qty,
           round(min(cv), 6) AS min_cv,
           round(max(cv), 6) AS max_cv
    FROM classed
    GROUP BY xyz_class
    ORDER BY xyz_class
    """,
)
def xyz_demand_variability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification — the companion axis to ABC
    revenue classification (`abc_pareto_classification`): parts are X
    (steady, CV < 0.5), Y (variable, CV < 1.0) or Z (erratic) by the
    coefficient of variation of their weekly shipped quantity.

    Everything stays in exact integer moments (n, Σq, Σq² per part);
    the X/Y/Z boundary tests are the SQUARED inequalities — 4·(nΣq²−Σq²)
    vs Σq² — so classification never touches floating point and both
    engines agree on every boundary part. Only the reported min/max CV
    per class is a double (min/max are order-insensitive, unlike a
    mean, so they stay hash-stable). Two hash-aggs, one scan."""
    li = load(spark, sf_dir).lineitem
    weekly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("week", "l_shipdate").alias("wk"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    m = weekly.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
    )
    var_num = F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")
    classed = m.select(
        "sq",
        F.when(4 * var_num < F.col("sq") * F.col("sq"), "X")
        .when(var_num < F.col("sq") * F.col("sq"), "Y")
        .otherwise("Z")
        .alias("xyz_class"),
        (F.sqrt(var_num.cast("double")) / F.col("sq")).alias("cv"),
    )
    return (
        classed.groupBy("xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("sq").cast("long").alias("total_qty"),
            F.round(F.min("cv"), 6).alias("min_cv"),
            F.round(F.max("cv"), 6).alias("max_cv"),
        )
        .orderBy("xyz_class")
    )


def day_user_activity(events: DataFrame) -> DataFrame:
    """(day, user_id, n_events, n_purch, is_new) — THE shared
    day×user activity grain: one events scan, one user_id-partitioned
    min() window marking each user's first-ever active day. Both
    `new_vs_returning` and `pipelines.py::daily_kpi_build` derive from
    this, so the new-user definition lives in exactly one place."""
    du = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purch"),
    )
    return du.select(
        "day",
        "user_id",
        "n_events",
        "n_purch",
        F.when(
            F.col("day") == F.min("day").over(W.partitionBy("user_id")), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )


@register(
    "new_vs_returning",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    flagged AS (
      SELECT day,
             CASE WHEN day = min(day) OVER (PARTITION BY user_id)
                  THEN 1 ELSE 0 END AS is_new
      FROM days
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(is_new) AS BIGINT) AS n_new,
           CAST(count(*) - sum(is_new) AS BIGINT) AS n_returning,
           round(sum(is_new) * 1.0 / count(*), 6) AS new_pct
    FROM flagged
    GROUP BY day
    ORDER BY day
    """,
)
def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split — the acquisition/retention
    topline: a user is 'new' on their first-ever active day and
    'returning' on every later one.

    One shuffle total: the first-seen day comes from a min() window
    partitioned by user over the (user, day) activity grain
    (day_user_activity — shared with daily_kpi_build so the new-user
    definition cannot drift), then a day-level hash-agg. At 100 TB the
    day×user collapse does the heavy lifting and everything after is
    day-cardinality."""
    flagged = day_user_activity(load(spark, sf_dir).events)
    return (
        flagged.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum("is_new").cast("long").alias("n_new"),
            (F.count(F.lit(1)) - F.sum("is_new")).cast("long").alias("n_returning"),
            F.round(F.sum("is_new") / F.count(F.lit(1)), 6).alias("new_pct"),
        )
        .orderBy("day")
    )


@register(
    "multitouch_attribution",
    oracle="""
    WITH p AS (
      SELECT user_id, ts AS pts, event_id AS pid FROM events
      WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts, event_id, event_type AS channel FROM events
      WHERE event_type IN ('view', 'click')
    ),
    touched AS (
      SELECT p.pid, t.channel, t.ts, t.event_id
      FROM p JOIN t ON t.user_id = p.user_id
        AND t.ts < p.pts AND t.ts >= p.pts - INTERVAL 7 DAY
    ),
    credited AS (
      SELECT pid, channel,
             row_number() OVER (PARTITION BY pid ORDER BY ts, event_id) AS r,
             CAST(count(*) OVER (PARTITION BY pid) AS BIGINT) AS n
      FROM touched
    ),
    long AS (
      SELECT 'first_touch' AS model, channel,
             CASE WHEN r = 1 THEN 10000 ELSE 0 END AS credit FROM credited
      UNION ALL
      SELECT 'last_touch', channel,
             CASE WHEN r = n THEN 10000 ELSE 0 END FROM credited
      UNION ALL
      SELECT 'linear', channel,
             10000 // n + CASE WHEN r <= 10000 % n THEN 1 ELSE 0 END
      FROM credited
    ),
    agg AS (
      SELECT model, channel,
             CAST(sum(CASE WHEN credit > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS credited_touches,
             CAST(sum(credit) AS BIGINT) AS credit_bp
      FROM long GROUP BY model, channel
    )
    SELECT model, channel, credited_touches, credit_bp,
           round(credit_bp * 1.0 /
                 CAST(sum(credit_bp) OVER (PARTITION BY model) AS BIGINT), 6)
             AS credit_share
    FROM agg
    ORDER BY model, channel
    """,
)
def multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution under three models at once — first-touch,
    last-touch, linear — crediting each purchase's view/click
    touchpoints from the 7 days before it.

    Credit is integer basis points (10000 per purchase); the linear
    model uses largest-remainder quotas (earliest touches get the
    remainder), so every purchase's credit sums to exactly 10000 and
    the whole report is exact integers until the final share division —
    no floating-point credit drift at any scale. The touch↔purchase
    pairing is one watermark-bounded interval join on user_id (the
    stream-stream join's batch shape); per-purchase ranking partitions
    by purchase. Purchases with no prior touch carry no credit by
    design (the 'unattributed' line a real report would add)."""
    e = load(spark, sf_dir).events
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "ts", "event_id", F.col("event_type").alias("channel")
    )
    touched = t.join(
        p,
        (F.col("user_id") == F.col("p_uid"))
        & (F.col("ts") < F.col("pts"))
        & (F.col("ts") >= F.col("pts") - F.expr("INTERVAL 7 DAY")),
    )
    wp = W.partitionBy("pid")
    credited = touched.select(
        "pid",
        "channel",
        F.row_number().over(wp.orderBy("ts", "event_id")).alias("r"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    long = credited.selectExpr(
        "channel",
        "stack(3, "
        "'first_touch', CASE WHEN r = 1 THEN 10000L ELSE 0L END, "
        "'last_touch',  CASE WHEN r = n THEN 10000L ELSE 0L END, "
        "'linear',      10000L div n + CASE WHEN r <= 10000 % n THEN 1L ELSE 0L END"
        ") AS (model, credit)",
    )
    agg = long.groupBy("model", "channel").agg(
        F.sum((F.col("credit") > 0).cast("int")).cast("long").alias(
            "credited_touches"
        ),
        F.sum("credit").cast("long").alias("credit_bp"),
    )
    wm = W.partitionBy("model")  # 3x2 rows — bounded by construction
    return agg.select(
        "model",
        "channel",
        "credited_touches",
        "credit_bp",
        F.round(
            F.col("credit_bp") / F.sum("credit_bp").over(wm).cast("long"), 6
        ).alias("credit_share"),
    ).orderBy("model", "channel")


@register(
    "repeat_purchase_rate",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CASE WHEN prev_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           CAST(sum(CASE WHEN prev_ts IS NOT NULL
                          AND ts <= prev_ts + INTERVAL 30 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_within_30d,
           round(sum(CASE WHEN prev_ts IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS repeat_rate,
           round(sum(CASE WHEN prev_ts IS NOT NULL
                           AND ts <= prev_ts + INTERVAL 30 DAY
                     THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS repeat_30d_rate
    FROM p
    """,
)
def repeat_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase KPI: the share of purchases that are a user's
    2nd-or-later, and the share arriving within 30 days of that user's
    previous purchase — the loyalty/retention topline next to
    `cohort_retention`.

    One shuffle on user_id: a lag() window over each user's purchase
    stream marks repeats and their spacing; everything after is a
    single global aggregate of exact integer flags."""
    e = load(spark, sf_dir).events
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = p.select(
        "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    is_rep = F.col("prev_ts").isNotNull().cast("int")
    is_rep30 = (
        F.col("prev_ts").isNotNull()
        & (F.col("ts") <= F.col("prev_ts") + F.expr("INTERVAL 30 DAY"))
    ).cast("int")
    return flagged.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(is_rep).cast("long").alias("n_repeat"),
        F.sum(is_rep30).cast("long").alias("n_repeat_within_30d"),
        F.round(F.sum(is_rep) / F.count(F.lit(1)), 6).alias("repeat_rate"),
        F.round(F.sum(is_rep30) / F.count(F.lit(1)), 6).alias(
            "repeat_30d_rate"
        ),
    )


@register(
    "order_gap_stats",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap
      FROM orders
    ),
    pc AS (
      SELECT o_custkey,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS BIGINT) AS s,
             CAST(min(gap) AS BIGINT) AS mn,
             CAST(max(gap) AS BIGINT) AS mx
      FROM g WHERE gap IS NOT NULL GROUP BY o_custkey
    ),
    nat AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS BIGINT) AS n_repeat_customers,
             CAST(sum(pc.n_gaps) AS BIGINT) AS n_gaps,
             CAST(sum(pc.s) AS BIGINT) AS s,
             CAST(min(pc.mn) AS BIGINT) AS min_gap_days,
             CAST(max(pc.mx) AS BIGINT) AS max_gap_days
      FROM pc
      JOIN customer c ON c.c_custkey = pc.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name
    )
    SELECT nation, n_repeat_customers, n_gaps,
           ((200 * s + n_gaps) // (2 * n_gaps)) / 100.0 AS avg_gap_days,
           min_gap_days, max_gap_days
    FROM nat
    ORDER BY nation
    """,
)
def order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order purchase-gap KPI per nation: for every customer with
    >=2 orders, the days between consecutive orders, rolled up to
    (repeat customers, gap count, avg/min/max gap days) by nation —
    the order-cadence complement to `repeat_purchase_rate` (event
    stream) and `cohort_retention` (monthly grid).

    Scale shape: one shuffle on o_custkey serves BOTH the lag() window
    and the per-customer pre-aggregate (same key, partitioning reused),
    so the customer join moves one row per repeat customer, not one per
    order; the 25-row nation dim broadcasts. The gap multiset depends
    only on each customer's sorted date multiset (ties share a date),
    so results are engine- and tie-break-independent. avg_gap_days is
    computed half-up to 2 decimals in EXACT integer arithmetic
    ((200*s + n) div (2*n) / 100.0) on both sides — no float-sum
    rounding hazard (ROADMAP numeric-parity playbook)."""
    t = load(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        t.orders.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).cast("long").alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    per_cust = gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").alias("s"),
        F.min("gap").alias("mn"),
        F.max("gap").alias("mx"),
    )
    nat = (
        per_cust.join(
            t.customer.select("c_custkey", "c_nationkey"),
            per_cust.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_repeat_customers"),
            F.sum("n_gaps").alias("n_gaps"),
            F.sum("s").alias("s"),
            F.min("mn").alias("min_gap_days"),
            F.max("mx").alias("max_gap_days"),
        )
    )
    return nat.select(
        "nation",
        "n_repeat_customers",
        "n_gaps",
        (
            F.expr("(200 * s + n_gaps) div (2 * n_gaps)") / F.lit(100.0)
        ).alias("avg_gap_days"),
        "min_gap_days",
        "max_gap_days",
    ).orderBy("nation")


@register(
    "peak_concurrent_sessions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts,
             sum(CASE WHEN gap_us IS NULL OR gap_us > 14400000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_n
      FROM seq
    ),
    sess AS (
      SELECT user_id * 1000000 + session_n AS sid,
             min(ts) AS s, max(ts) AS e
      FROM numbered GROUP BY user_id, session_n
    ),
    b AS (
      SELECT sid, epoch_us(s) * 2 AS k, 1 AS delta, s AS t FROM sess
      UNION ALL
      SELECT sid, epoch_us(e) * 2 + 1, -1, e FROM sess
    ),
    c AS (
      SELECT t, delta,
             CAST(sum(delta) OVER (ORDER BY k, sid
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
      FROM b
    )
    SELECT strftime(t, '%Y-%m-%d') AS day,
           CAST(max(conc) AS BIGINT) AS peak_concurrent,
           CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions_started
    FROM c GROUP BY day ORDER BY day
    """,
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous sessions per day — the capacity-planning KPI:
    sessionize events (same 4 h gap rule as sessionize_events), turn
    every session into a +1 boundary at its start and a -1 at its end
    (closed intervals: at an exact shared instant, starts are processed
    before ends, so back-to-back sessions count as overlapping), then
    sweep-line: concurrency after a boundary is the GLOBAL prefix sum of
    the deltas in time order, and a day's peak is the max over its
    boundaries (days with no boundary events don't emit a row).

    The global prefix sum is the textbook single-partition
    ``SUM() OVER (ORDER BY time)`` — computed here with the distributed
    two-phase prefix sum (operators/ranking.py). Epoch-microsecond sort
    keys make log2 bucketing degenerate (a year of timestamps shares one
    bucket), so this query passes an equal-width ``bucket_expr`` over
    the observed [kmin, kmax] span — 256 near-uniform buckets for
    near-uniform event time. Ties are fully ordered by (k, sid), where
    the boundary key k = 2·µs + {start: 0, end: 1} and sid is a unique
    session id, so both engines assign identical per-row prefix values
    (sid = user_id·10⁶ + session_n assumes < 10⁶ sessions per user —
    sessions per user are bounded by events per user)."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    e = load(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    numbered = e.select(
        "user_id",
        "ts",
        F.sum(F.when(gap.isNull() | (gap > 14_400_000_000), 1).otherwise(0))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_n"),
    )
    sess = (
        numbered.groupBy("user_id", "session_n")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        .select(
            (F.col("user_id") * 1_000_000 + F.col("session_n")).alias("sid"),
            "s",
            "e",
        )
    )
    b = (
        sess.select(
            "sid",
            (F.unix_micros("s") * 2).alias("k"),
            F.lit(1).alias("delta"),
            F.col("s").alias("t"),
        )
        .unionAll(
            sess.select(
                "sid",
                (F.unix_micros("e") * 2 + 1).alias("k"),
                F.lit(-1).alias("delta"),
                F.col("e").alias("t"),
            )
        )
        # boundary table feeds the bounds aggregate AND the ranked pass —
        # materialize once instead of re-sessionizing the event stream
        .localCheckpoint(eager=True)
    )
    bounds = b.agg(F.min("k").alias("kmin"), F.max("k").alias("kmax"))
    bb = b.crossJoin(F.broadcast(bounds))
    ranked = global_order_stats(
        bb,
        "k",
        "sid",
        measure_col="delta",
        ascending=True,
        bucket_expr=F.expr("(k - kmin) * 256 div (kmax - kmin + 1)"),
    )
    return (
        ranked.groupBy(F.date_format("t", "yyyy-MM-dd").alias("day"))
        .agg(
            F.max("global_cum").cast("long").alias("peak_concurrent"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_sessions_started"),
        )
        .orderBy("day")
    )


@register(
    "dau_mau_stickiness",
    oracle="""
    WITH base AS (
      SELECT DISTINCT strftime(ts, '%Y-%m') AS month,
             strftime(ts, '%Y-%m-%d') AS day,
             user_id
      FROM events
    ),
    dau AS (
      SELECT month, day, CAST(count(*) AS BIGINT) AS dau
      FROM base GROUP BY month, day
    ),
    mau AS (
      SELECT month, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM base GROUP BY month
    )
    SELECT d.month, any_value(mau) AS mau,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(dau) AS BIGINT) AS sum_dau,
           round(sum(dau) * 1.0 / (count(*) * any_value(mau)), 6)
             AS stickiness
    FROM dau d JOIN mau m ON d.month = m.month
    GROUP BY d.month ORDER BY d.month
    """,
)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month — the engagement KPI:
    average daily active users divided by monthly active users, plus the
    raw MAU / day-count / DAU-sum it derives from.

    One distinct pass over (month, day, user) feeds BOTH counts: DAU is
    a hash-agg of the distinct set by day, MAU a second distinct-agg of
    the same (user-day-sized, checkpointed) intermediate — the event
    table is scanned once no matter how many KPIs read it. Stickiness is
    one division of exact integer counts, computed as
    sum_dau/(n_days·mau) so only a single rounding step exists."""
    e = load(spark, sf_dir).events
    base = (
        e.select(
            F.date_format("ts", "yyyy-MM").alias("month"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .distinct()
        # user-day-sized; the DAU and MAU branches both read it
        .localCheckpoint(eager=True)
    )
    dau = base.groupBy("month", "day").agg(F.count(F.lit(1)).alias("dau"))
    mau = base.select("month", "user_id").distinct().groupBy("month").agg(
        F.count(F.lit(1)).alias("mau")
    )
    return (
        dau.join(mau, "month")
        .groupBy("month")
        .agg(
            F.first("mau").alias("mau"),
            F.count(F.lit(1)).alias("n_days"),
            F.sum("dau").cast("long").alias("sum_dau"),
            F.round(
                F.sum("dau") * 1.0 / (F.count(F.lit(1)) * F.first("mau")), 6
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


@register(
    "match_recognize_funnel",
    oracle="""
    WITH enc AS (
      SELECT user_id,
             string_agg(upper(substr(event_type, 1, 1)), ''
                        ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT user_id, CAST(length(s) AS BIGINT) AS n_events,
             regexp_extract_all(s, 'S[CV]*P') AS runs
      FROM enc
    )
    SELECT user_id, n_events,
           CAST(length(runs) AS BIGINT) AS n_funnels,
           CAST(coalesce(list_max(list_transform(runs, x -> length(x))), 0)
                AS BIGINT) AS longest_funnel_len
    FROM m ORDER BY user_id
    """,
)
def match_recognize_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2016 MATCH_RECOGNIZE emulation — row-pattern matching over
    each user's event sequence. Events encode to one char each (Signup,
    Click, View, Purchase, Error); the pattern S[CV]*P finds completed
    signup→browse→purchase funnels where an intervening Error aborts
    the run — the quantified-regex-over-rows semantics that plain
    window functions can't express (funnel_three_step counts fixed
    3-step paths; this matches arbitrary-length runs).

    Spark has no MATCH_RECOGNIZE operator, so the scalable emulation
    is: one groupBy(user) shuffle, order each user's events INSIDE the
    aggregate (array_sort over (ts, event_id, ch) structs — collect_list
    alone is arrival-ordered, i.e. nondeterministic), join to a string,
    and run the regex per user — all codegen expressions, parallelism =
    #users. Per-user state is the encoded string (bounded by events per
    user); at stream scale the same pattern chunks by day with a
    carry-over prefix. Regex semantics (leftmost non-overlapping, greedy
    star) agree across engines because the alphabet classes are
    disjoint — no backtracking ambiguity exists."""
    e = load(spark, sf_dir).events
    enc = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            F.upper(F.substring("event_type", 1, 1)).alias("ch"),
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(ts, event_id, ch))), x -> x.ch), '')"
            ).alias("s")
        )
    )
    runs = F.expr("regexp_extract_all(s, 'S[CV]*P', 0)")
    return enc.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        F.size(runs).cast("long").alias("n_funnels"),
        F.coalesce(
            F.array_max(F.transform(runs, lambda x: F.length(x))), F.lit(0)
        )
        .cast("long")
        .alias("longest_funnel_len"),
    ).orderBy("user_id")


@register(
    "ab_cuped_adjustment",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}'
                           THEN {_EV_CENTS} ELSE 0 END) AS BIGINT) AS pre_c,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                           THEN {_EV_CENTS} ELSE 0 END) AS BIGINT) AS post_c
      FROM events GROUP BY user_id
    ),
    pooled AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre_c) AS BIGINT) AS sp,
             CAST(sum(post_c) AS BIGINT) AS so,
             CAST(sum(pre_c * pre_c) AS BIGINT) AS spp,
             CAST(sum(pre_c * post_c) AS BIGINT) AS spo,
             CAST(sum(post_c * post_c) AS BIGINT) AS soo
      FROM per_user
    ),
    th AS (
      SELECT n, sp, so,
             CASE WHEN n * spp - sp * sp = 0 THEN 0.0
                  ELSE (CAST(n AS DOUBLE) * spo - CAST(sp AS DOUBLE) * so)
                       / (CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)
             END AS theta,
             CASE WHEN (n * spp - sp * sp) = 0 OR (n * soo - so * so) = 0
                  THEN 0.0
                  ELSE pow(CAST(n AS DOUBLE) * spo
                           - CAST(sp AS DOUBLE) * so, 2)
                       / ((CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)
                          * (CAST(n AS DOUBLE) * soo
                             - CAST(so AS DOUBLE) * so))
             END AS rho2
      FROM pooled
    ),
    arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(pre_c) AS BIGINT) AS sp_a,
             CAST(sum(post_c) AS BIGINT) AS so_a
      FROM per_user GROUP BY arm
    )
    SELECT arm, n_users,
           round(so_a * 1.0 / (n_users * 100), 6) AS mean_post,
           round(so_a * 1.0 / (n_users * 100)
                 - theta * (sp_a * 1.0 / (n_users * 100)
                            - sp * 1.0 / (n * 100)), 6) AS mean_adjusted,
           round(theta, 6) AS theta,
           round(rho2, 6) AS var_reduction
    FROM arms CROSS JOIN th
    ORDER BY arm
    """,
)
def ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the hash-split experiment
    (ab_test_conversion's arms): each user's PRE-period spend (before
    2024-01-15) is the covariate, θ = cov(pre, post)/var(pre) is fit
    POOLED, and each arm reports its raw vs CUPED-adjusted mean with
    the achievable variance reduction ρ² — the standard trick that
    shrinks experiment runtimes ~(1-ρ²)× without touching assignment.

    Everything reduces to exact integer moment sums from ONE per-user
    aggregation pass (cents fixed-point, pooled + per-arm in two tiny
    rollups of the same user table), so θ/ρ²/means are single identical
    double expressions on both engines; degenerate variance pools guard
    to 0 with a CASE on the exact integer denominator (ANSI Spark
    raises on double/0 — the ab_test_conversion lesson)."""
    e = load(spark, sf_dir).events
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    cents = F.expr(_EV_CENTS)
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < split, cents).otherwise(0))
            .cast("long")
            .alias("pre_c"),
            F.sum(F.when(F.col("ts") >= split, cents).otherwise(0))
            .cast("long")
            .alias("post_c"),
        )
        .select(
            F.when(F.md5(F.col("user_id").cast("string")) < "8", "A")
            .otherwise("B")
            .alias("arm"),
            "pre_c",
            "post_c",
        )
        # user-count sized; pooled stats and per-arm rollup both read it
        .localCheckpoint(eager=True)
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre_c").cast("long").alias("sp"),
        F.sum("post_c").cast("long").alias("so"),
        F.sum(F.col("pre_c") * F.col("pre_c")).cast("long").alias("spp"),
        F.sum(F.col("pre_c") * F.col("post_c")).cast("long").alias("spo"),
        F.sum(F.col("post_c") * F.col("post_c")).cast("long").alias("soo"),
    )
    nd = F.col("n").cast("double")
    spd = F.col("sp").cast("double")
    sod = F.col("so").cast("double")
    var_pre = nd * F.col("spp") - spd * spd
    var_post = nd * F.col("soo") - sod * sod
    cov = nd * F.col("spo") - spd * sod
    th = pooled.select(
        "n",
        "sp",
        F.when(F.col("n") * F.col("spp") - F.col("sp") * F.col("sp") == 0, 0.0)
        .otherwise(cov / var_pre)
        .alias("theta"),
        F.when(
            (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp") == 0)
            | (F.col("n") * F.col("soo") - F.col("so") * F.col("so") == 0),
            0.0,
        )
        .otherwise(F.pow(cov, 2) / (var_pre * var_post))
        .alias("rho2"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("pre_c").cast("long").alias("sp_a"),
        F.sum("post_c").cast("long").alias("so_a"),
    )
    mean_post = F.col("so_a") * 1.0 / (F.col("n_users") * 100)
    mean_pre_arm = F.col("sp_a") * 1.0 / (F.col("n_users") * 100)
    mean_pre_pool = F.col("sp") * 1.0 / (F.col("n") * 100)
    return (
        arms.crossJoin(F.broadcast(th))
        .select(
            "arm",
            "n_users",
            F.round(mean_post, 6).alias("mean_post"),
            F.round(
                mean_post - F.col("theta") * (mean_pre_arm - mean_pre_pool), 6
            ).alias("mean_adjusted"),
            F.round("theta", 6).alias("theta"),
            F.round("rho2", 6).alias("var_reduction"),
        )
        .orderBy("arm")
    )


@register(
    "running_drawdown",
    oracle="""
    WITH seq AS (
      SELECT o_custkey AS ck,
             CASE WHEN o_orderkey % 2 = 0
                  THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                  ELSE -CAST(round(o_totalprice * 100, 0) AS BIGINT)
             END AS delta,
             o_orderdate, o_orderkey
      FROM orders
    ),
    bals AS (
      SELECT ck, o_orderdate, o_orderkey,
             CAST(sum(delta) OVER (PARTITION BY ck
                                   ORDER BY o_orderdate, o_orderkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS bal,
             CAST(row_number() OVER (PARTITION BY ck
                                     ORDER BY o_orderdate, o_orderkey)
                  AS BIGINT) AS rn
      FROM seq
    ),
    walk AS (
      SELECT ck, bal, rn,
             CAST(max(bal) OVER (PARTITION BY ck
                                 ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
      FROM bals
    )
    SELECT ck AS custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(peak - bal) AS BIGINT) AS max_drawdown_cents,
           CAST(max(peak) AS BIGINT) AS peak_balance_cents,
           CAST(arg_max(bal, rn) AS BIGINT) AS final_balance_cents
    FROM walk
    GROUP BY ck
    ORDER BY ck
    """,
)
def running_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per customer over the signed running balance
    (even orders credit, odd debit — capped_running_balance's ledger
    without the clamp): drawdown_t = running_peak_t − balance_t, and
    the report keeps each customer's worst drawdown, peak, and final
    balance — the financial risk statistic that needs a window OVER a
    window (running max of a running sum), which plain aggregation
    can't express.

    Both windows and the final rollup partition on custkey — one
    shuffle, one sort, exact integer cents end to end. The final
    balance is the last running sum, read with max_by over the time
    rank that rides the same window sort."""
    o = load(spark, sf_dir).orders
    seq = o.select(
        F.col("o_custkey").alias("ck"),
        F.when(
            F.col("o_orderkey") % 2 == 0,
            F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"),
        )
        .otherwise(F.expr("-CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
        .alias("delta"),
        "o_orderdate",
        "o_orderkey",
    )
    w = (
        W.partitionBy("ck")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # two window levels: engines (and ANSI SQL) forbid nesting a window
    # call inside another window call, and both levels share one
    # (ck)-partitioned sort anyway
    bals = seq.select(
        "ck",
        "o_orderdate",
        "o_orderkey",
        F.sum("delta").over(w).cast("long").alias("bal"),
        F.row_number()
        .over(W.partitionBy("ck").orderBy("o_orderdate", "o_orderkey"))
        .cast("long")
        .alias("rn"),
    )
    walk = bals.select(
        "ck",
        "bal",
        "rn",
        F.max("bal").over(w).cast("long").alias("peak"),
    )
    return (
        walk.groupBy(F.col("ck").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max(F.col("peak") - F.col("bal"))
            .cast("long")
            .alias("max_drawdown_cents"),
            F.max("peak").cast("long").alias("peak_balance_cents"),
            F.expr("max_by(bal, rn)")
            .cast("long")
            .alias("final_balance_cents"),
        )
        .orderBy("custkey")
    )


_WF_WINDOW_US = 86_400_000_000  # 24 hours — spreads depths 1/2/3 on this data


@register(
    "window_funnel_bounded",
    oracle=f"""
    WITH anch AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id) AS s_us
      FROM events
    ),
    c AS (
      SELECT user_id, s_us,
             min(CASE WHEN event_type = 'click'
                       AND epoch_us(ts) > s_us
                       AND epoch_us(ts) <= s_us + {_WF_WINDOW_US}
                      THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id) AS c_us
      FROM anch
    ),
    per_user AS (
      SELECT t.user_id, t.s_us, t.c_us,
             min(CASE WHEN e.event_type = 'purchase'
                       AND epoch_us(e.ts) > t.c_us
                       AND epoch_us(e.ts) <= t.s_us + {_WF_WINDOW_US}
                      THEN epoch_us(e.ts) END) AS p_us
      FROM (SELECT DISTINCT user_id, s_us, c_us FROM c) t
      LEFT JOIN events e ON e.user_id = t.user_id
      GROUP BY t.user_id, t.s_us, t.c_us
    ),
    depths AS (
      SELECT CASE WHEN s_us IS NULL THEN 0
                  WHEN c_us IS NULL THEN 1
                  WHEN p_us IS NULL THEN 2
                  ELSE 3 END AS depth
      FROM per_user
    )
    SELECT CAST(depth AS INT) AS depth,
           CAST(count(*) AS BIGINT) AS n_users,
           round(count(*) * 1.0 / (SELECT count(*) FROM depths), 6)
             AS share_of_users
    FROM depths GROUP BY depth ORDER BY depth
    """,
)
def window_funnel_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded window funnel (ClickHouse windowFunnel semantics,
    anchored): from each user's FIRST signup, how deep does the strict
    signup→click→purchase chain get within 24 HOURS of the anchor?
    Reported as a depth histogram (0 = never signed up). Unbounded
    funnels (funnel_three_step) overstate conversion by joining events
    days apart; the bounded variant is the campaign/UX metric.

    One user_id shuffle carries everything: the signup anchor and the
    first qualifying click are two window passes over the same
    partition, the qualifying purchase folds in the final per-user
    aggregate, and all time bounds are exact integer µs comparisons."""
    e = load(spark, sf_dir).events
    w = W.partitionBy("user_id")
    anch = e.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("t"),
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_micros("ts"))
        )
        .over(w)
        .alias("s_us"),
    )
    c = anch.withColumn(
        "c_us",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("t") > F.col("s_us"))
                & (F.col("t") <= F.col("s_us") + _WF_WINDOW_US),
                F.col("t"),
            )
        ).over(w),
    )
    per_user = c.groupBy("user_id").agg(
        F.first("s_us").alias("s_us"),
        F.first("c_us").alias("c_us"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("t") > F.col("c_us"))
                & (F.col("t") <= F.col("s_us") + _WF_WINDOW_US),
                F.col("t"),
            )
        ).alias("p_us"),
    )
    depths = per_user.select(
        F.when(F.col("s_us").isNull(), 0)
        .when(F.col("c_us").isNull(), 1)
        .when(F.col("p_us").isNull(), 2)
        .otherwise(3)
        .cast("int")
        .alias("depth")
    ).localCheckpoint(eager=True)
    t = depths.agg(F.count(F.lit(1)).alias("total"))
    return (
        depths.crossJoin(F.broadcast(t))
        .groupBy("depth")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.count(F.lit(1)) * 1.0 / F.first("total"), 6).alias(
                "share_of_users"
            ),
        )
        .orderBy("depth")
    )


_GAP_THRESHOLDS_H = (1, 4, 12)


@register(
    "sessionize_sensitivity",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    marks AS (
      SELECT CASE WHEN gap_us IS NULL OR gap_us > 1 * 3600000000
                  THEN 1 ELSE 0 END AS b1,
             CASE WHEN gap_us IS NULL OR gap_us > 4 * 3600000000
                  THEN 1 ELSE 0 END AS b4,
             CASE WHEN gap_us IS NULL OR gap_us > 12 * 3600000000
                  THEN 1 ELSE 0 END AS b12
      FROM seq
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(b1) AS BIGINT) AS s1,
             CAST(sum(b4) AS BIGINT) AS s4,
             CAST(sum(b12) AS BIGINT) AS s12
      FROM marks
    )
    SELECT CAST(gap_hours AS INT) AS gap_hours, n_sessions, n_events,
           round(n_events * 1.0 / n_sessions, 6) AS mean_session_events
    FROM (
      SELECT 1 AS gap_hours, s1 AS n_sessions, n_events FROM t
      UNION ALL SELECT 4, s4, n_events FROM t
      UNION ALL SELECT 12, s12, n_events FROM t
    )
    ORDER BY gap_hours
    """,
)
def sessionize_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-boundary sensitivity analysis: how many sessions (and
    events per session) the corpus yields at 1 h / 4 h / 12 h
    inactivity gaps — the parameter-tuning readout behind
    sessionize_events' fixed 4 h rule (a threshold where session count
    still swings steeply is a bad place to stand).

    The trick: a session COUNT doesn't need the session-id cumsum at
    all — every session has exactly one boundary row (first event or
    gap > threshold), so ALL thresholds are counted from ONE lag pass
    over ONE user_id shuffle, three conditional sums side by side.
    Gaps compare as exact integer microseconds; the sweep costs the
    same as a single sessionization."""
    e = load(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    marks = e.select(
        *[
            F.when(gap.isNull() | (gap > h * 3_600_000_000), 1)
            .otherwise(0)
            .alias(f"b{h}")
            for h in _GAP_THRESHOLDS_H
        ]
    )
    t = marks.agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.sum(f"b{h}").cast("long").alias(f"s{h}")
            for h in _GAP_THRESHOLDS_H
        ],
    )
    rows = None
    for h in _GAP_THRESHOLDS_H:
        r = t.select(
            F.lit(h).cast("int").alias("gap_hours"),
            F.col(f"s{h}").alias("n_sessions"),
            "n_events",
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows.select(
        "gap_hours",
        "n_sessions",
        "n_events",
        F.round(F.col("n_events") * 1.0 / F.col("n_sessions"), 6).alias(
            "mean_session_events"
        ),
    ).orderBy("gap_hours")


@register(
    "event_burstiness",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS ss
      FROM hourly GROUP BY event_type
    )
    SELECT event_type, n_hours, s AS n_events,
           round(CAST(s AS DOUBLE) / n_hours, 6) AS mean_per_hour,
           round((CAST(ss AS DOUBLE) * n_hours - CAST(s AS DOUBLE) * s)
                 / (CAST(n_hours AS DOUBLE) * n_hours), 6) AS variance,
           round(((CAST(ss AS DOUBLE) * n_hours - CAST(s AS DOUBLE) * s)
                  / (CAST(n_hours AS DOUBLE) * n_hours))
                 / (CAST(s AS DOUBLE) / n_hours), 6) AS fano_factor
    FROM m ORDER BY event_type
    """,
)
def event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor = variance/mean of hourly counts) per
    event type over hours WITH activity: a Poisson-like steady stream
    sits near 1, clumpy/bursty traffic well above — the dispersion
    diagnostic that decides whether rate alarms (event_rate_anomalies)
    need burst-robust thresholds. Population variance assembles from
    exact integer moment sums (Σc, Σc²) over the hour-grain rollup, so
    both engines evaluate one identical double expression; two
    hash-aggs total, the second over (type × hours) rows."""
    e = load(spark, sf_dir).events
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    nh = F.col("n_hours").cast("double")
    sd = F.col("s").cast("double")
    var = (F.col("ss").cast("double") * F.col("n_hours") - sd * F.col("s")) / (
        nh * F.col("n_hours")
    )
    return m.select(
        "event_type",
        "n_hours",
        F.col("s").alias("n_events"),
        F.round(sd / F.col("n_hours"), 6).alias("mean_per_hour"),
        F.round(var, 6).alias("variance"),
        F.round(var / (sd / F.col("n_hours")), 6).alias("fano_factor"),
    ).orderBy("event_type")


@register(
    "abc_xyz_matrix",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000,
                                 0) AS BIGINT)) AS BIGINT) AS rev_fp
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, rev_fp,
             CAST(sum(rev_fp) OVER (ORDER BY rev_fp DESC, l_partkey
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_fp,
             CAST(sum(rev_fp) OVER () AS BIGINT) AS total_fp
      FROM rev
    ),
    abc AS (
      SELECT l_partkey,
             CASE WHEN cum_fp * 100 <= total_fp * 80 THEN 'A'
                  WHEN cum_fp * 100 <= total_fp * 95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked
    ),
    weekly AS (
      SELECT l_partkey AS pk, date_trunc('week', l_shipdate) AS wk,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT pk, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS sq,
             CAST(sum(q * q) AS BIGINT) AS sqq
      FROM weekly GROUP BY pk
    ),
    xyz AS (
      SELECT pk,
             CASE WHEN 4 * (n * sqq - sq * sq) < sq * sq THEN 'X'
                  WHEN n * sqq - sq * sq < sq * sq THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM m
    )
    SELECT a.abc_class, x.xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           a.abc_class || x.xyz_class AS cell,
           CASE a.abc_class || x.xyz_class
                WHEN 'AX' THEN 'automate'
                WHEN 'AY' THEN 'automate_buffered'
                WHEN 'AZ' THEN 'manual_review'
                WHEN 'CX' THEN 'bulk_reorder'
                WHEN 'CZ' THEN 'rationalize'
                ELSE 'standard' END AS policy
    FROM abc a JOIN xyz x ON x.pk = a.l_partkey
    GROUP BY a.abc_class, x.xyz_class
    ORDER BY a.abc_class, x.xyz_class
    """,
)
def abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABC × XYZ inventory-policy matrix — the composition the two
    single-axis classifications exist FOR: revenue importance
    (abc_pareto_classification's distributed global cumsum) crossed
    with demand steadiness (xyz_demand_variability's squared-integer CV
    classes) yields the 9 planning cells and their standard policies
    (AX automate, AZ manual review, CZ rationalize/drop).

    Both classifications reuse their documented shapes over ONE
    lineitem source each (revenue agg + weekly-demand agg); the matrix
    join is part-keyed. Every boundary — the 80/95 revenue cuts and
    the 0.5/1.0 CV cuts — is an exact integer inequality, so the cell
    assignment is engine-identical part by part."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    li = load(spark, sf_dir).lineitem
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * (1 - l_discount) * 10000,"
                    " 0) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("rev_fp")
        )
    )
    ranked = global_order_stats(
        rev, "rev_fp", "l_partkey", measure_col="rev_fp", ascending=False
    )
    total = rev.agg(F.sum("rev_fp").cast("long").alias("total_fp"))
    abc = ranked.crossJoin(F.broadcast(total)).select(
        "l_partkey",
        F.when(F.col("global_cum") * 100 <= F.col("total_fp") * 80, "A")
        .when(F.col("global_cum") * 100 <= F.col("total_fp") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    weekly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("week", "l_shipdate").alias("wk"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    m = weekly.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
    )
    var_n = F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")
    xyz = m.select(
        "pk",
        F.when(4 * var_n < F.col("sq") * F.col("sq"), "X")
        .when(var_n < F.col("sq") * F.col("sq"), "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    cell = F.concat(F.col("abc_class"), F.col("xyz_class"))
    return (
        abc.join(xyz, abc.l_partkey == xyz.pk)
        .groupBy("abc_class", "xyz_class")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select(
            "abc_class",
            "xyz_class",
            "n_parts",
            cell.alias("cell"),
            F.when(cell == "AX", "automate")
            .when(cell == "AY", "automate_buffered")
            .when(cell == "AZ", "manual_review")
            .when(cell == "CX", "bulk_reorder")
            .when(cell == "CZ", "rationalize")
            .otherwise("standard")
            .alias("policy"),
        )
        .orderBy("abc_class", "xyz_class")
    )


RMST_TAU_DAYS = 60  # restriction horizon


@register(
    "rmst_restricted_mean",
    oracle=f"""
    WITH spans AS (
      SELECT user_id,
             CAST(date_trunc('day', min(ts)) AS DATE) AS first_day,
             CAST(date_trunc('day', max(ts)) AS DATE) AS last_day
      FROM events GROUP BY user_id
    ),
    bounds AS (SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS end_day
               FROM events),
    lives AS (
      SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT) AS t_days,
             CASE WHEN date_diff('day', last_day, end_day) < 14
                  THEN 0 ELSE 1 END AS churned
      FROM spans CROSS JOIN bounds
    ),
    per_t AS (
      SELECT t_days,
             CAST(sum(churned) AS BIGINT) AS n_churned,
             CAST(count(*) AS BIGINT) AS n_total
      FROM lives GROUP BY t_days
    ),
    risk AS (
      SELECT t_days, n_churned,
             CAST(sum(n_total) OVER (ORDER BY t_days ROWS BETWEEN
                    CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
               AS n_risk
      FROM per_t
    ),
    km AS (
      SELECT t_days,
             CAST(floor(exp(sum(CASE WHEN n_churned > 0
                                THEN ln(1 - n_churned * 1.0 / n_risk)
                                ELSE 0.0 END)
                       OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW)) * 1000000
                       + 0.001) AS BIGINT) AS s_micro,
             lead(t_days) OVER (ORDER BY t_days) AS next_t
      FROM risk
    ),
    segs AS (
      SELECT t_days, s_micro,
             greatest(least(coalesce(next_t, {RMST_TAU_DAYS}),
                            {RMST_TAU_DAYS}) - t_days, 0) AS width
      FROM km WHERE t_days < {RMST_TAU_DAYS}
    ),
    head AS (
      SELECT least(min(t_days), {RMST_TAU_DAYS}) AS w0 FROM km
    ),
    agg AS (
      SELECT CAST(sum(s_micro * width) AS BIGINT) AS area_micro,
             (SELECT w0 FROM head) AS w0,
             CAST(max(CASE WHEN t_days < {RMST_TAU_DAYS}
                           THEN s_micro END) AS BIGINT)
               AS last_s_micro
      FROM segs
    )
    SELECT {RMST_TAU_DAYS} AS tau_days,
           (SELECT CAST(count(*) AS BIGINT) FROM lives) AS n_users,
           round((w0 * 1000000 + area_micro) / 1000000.0, 4)
             AS rmst_days,
           round((SELECT min(s_micro) FROM segs) / 1000000.0, 6)
             AS km_floor_in_window
    FROM agg
    """,
)
def rmst_restricted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (Royston & Parmar 2013; Uno 2014)
    at tau = {RMST_TAU_DAYS} days: the area under the Kaplan-Meier
    curve up to tau — 'expected days retained in the first {RMST_TAU_DAYS}'
    — the single-number survival summary regulators and experimenters
    prefer over medians when curves cross. Builds directly on
    survival_km_curve's estimator (same right-censoring rule).

    Determinism: the KM product is exp of a running ln-sum as in the
    curve query, but each step's S is FLOORED to 1e-6 fixed point
    BEFORE the area sum, so the integral is an exact BIGINT sum of
    s_micro * integer day widths (the step function's exact area) —
    cross-row double accumulation never happens. The [0, t_min)
    segment at S=1 is added exactly.

    Scale: identical to survival_km_curve — one user collapse, then
    all windows on the distinct-lifetime-day table."""
    e = load(spark, sf_dir).events
    spans = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_day"),
        F.to_date(F.max("ts")).alias("last_day"),
    )
    bounds = e.agg(F.to_date(F.max("ts")).alias("end_day"))
    lives = spans.crossJoin(F.broadcast(bounds)).select(
        F.datediff("last_day", "first_day").cast("long").alias("t_days"),
        F.when(F.datediff("end_day", "last_day") < 14, 0)
        .otherwise(1)
        .alias("churned"),
    )
    per_t = (
        lives.groupBy("t_days")
        .agg(
            F.sum("churned").alias("n_churned"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )
    w_risk = W.orderBy("t_days").rowsBetween(
        W.currentRow, W.unboundedFollowing
    )
    w_km = W.orderBy("t_days").rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = per_t.withColumn("n_risk", F.sum("n_total").over(w_risk))
    ln_term = F.when(
        F.col("n_churned") > 0,
        F.log(1 - F.col("n_churned") / F.col("n_risk")),
    ).otherwise(0.0)
    km = risk.select(
        "t_days",
        F.floor(F.exp(F.sum(ln_term).over(w_km)) * 1_000_000 + 0.001)
        .cast("long")
        .alias("s_micro"),
        F.lead("t_days").over(W.orderBy("t_days")).alias("next_t"),
    )
    segs = km.filter(F.col("t_days") < RMST_TAU_DAYS).select(
        "t_days",
        "s_micro",
        F.greatest(
            F.least(
                F.coalesce(F.col("next_t"), F.lit(RMST_TAU_DAYS)),
                F.lit(RMST_TAU_DAYS),
            )
            - F.col("t_days"),
            F.lit(0),
        ).alias("width"),
    )
    head = km.agg(
        F.least(F.min("t_days"), F.lit(RMST_TAU_DAYS)).alias("w0")
    )
    n_users = lives.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    return (
        segs.agg(
            F.sum(F.col("s_micro") * F.col("width"))
            .cast("long")
            .alias("area_micro"),
            F.min("s_micro").cast("long").alias("min_s_micro"),
        )
        .crossJoin(F.broadcast(head))
        .crossJoin(F.broadcast(n_users))
        .select(
            F.lit(RMST_TAU_DAYS).alias("tau_days"),
            "n_users",
            F.round(
                (F.col("w0") * 1_000_000 + F.col("area_micro"))
                / 1_000_000.0,
                4,
            ).alias("rmst_days"),
            F.round(F.col("min_s_micro") / 1_000_000.0, 6).alias(
                "km_floor_in_window"
            ),
        )
    )


@register(
    "logrank_test_arms",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS arm,
             CAST(date_trunc('day', min(ts)) AS DATE) AS first_day,
             CAST(date_trunc('day', max(ts)) AS DATE) AS last_day,
             CAST(date_trunc('day', min(CASE WHEN event_type = 'purchase'
                                             THEN ts END)) AS DATE)
               AS purchase_day
      FROM events GROUP BY user_id
    ),
    lives AS (
      SELECT arm,
             CAST(date_diff('day', first_day,
                            coalesce(purchase_day, last_day)) AS BIGINT)
               AS t_days,
             CASE WHEN purchase_day IS NULL THEN 0 ELSE 1 END AS event
      FROM spans
    ),
    per_t AS (
      SELECT t_days,
             CAST(sum(event) AS BIGINT) AS d,
             CAST(sum(CASE WHEN arm = 'A' THEN event ELSE 0 END)
                  AS BIGINT) AS d_a,
             CAST(count(*) AS BIGINT) AS total,
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS total_a
      FROM lives GROUP BY t_days
    ),
    risk AS (
      SELECT t_days, d, d_a,
             CAST(sum(total) OVER (ORDER BY t_days ROWS BETWEEN
                  CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n,
             CAST(sum(total_a) OVER (ORDER BY t_days ROWS BETWEEN
                  CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_a
      FROM per_t
    ),
    terms AS (
      SELECT d_a,
             CAST(floor(d * (CAST(n_a AS DOUBLE) / n) * 1000000 + 0.001)
                  AS BIGINT) AS e_micro,
             CASE WHEN n > 1 THEN
               CAST(floor(d * (CAST(n_a AS DOUBLE) / n)
                          * (1 - CAST(n_a AS DOUBLE) / n)
                          * (n - d) / (n - 1) * 1000000 + 0.001)
                    AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS v_micro
      FROM risk WHERE d > 0
    ),
    agg AS (
      SELECT CAST(sum(d_a) AS BIGINT) AS o_a,
             CAST(sum(e_micro) AS BIGINT) AS se,
             CAST(sum(v_micro) AS BIGINT) AS sv
      FROM terms
    ),
    counts AS (
      SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_users_a,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_users_b
      FROM lives
    )
    SELECT n_users_a, n_users_b, o_a AS observed_a,
           round(se / 1000000.0, 4) AS expected_a,
           round((o_a - se / 1000000.0) * (o_a - se / 1000000.0)
                 / (sv / 1000000.0), 6) AS chi2_logrank,
           CAST((o_a - se / 1000000.0) * (o_a - se / 1000000.0)
                / (sv / 1000000.0) > 3.8415 AS INT) AS significant_95
    FROM agg CROSS JOIN counts
    """,
)
def logrank_test_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test between the hash-split user arms on
    TIME TO FIRST PURCHASE (Mantel 1966) — users who never purchase
    are right-censored at their last activity: at each distinct event
    time the
    observed arm-A churn count is compared to its hypergeometric
    expectation d*n_A/n with variance d(n_A/n)(1-n_A/n)(n-d)/(n-1),
    and chi2 = (O-E)^2/V on the sums — the standard two-sample
    survival comparison that completes the survival kit
    (survival_km_curve: the curve; nelson_aalen_hazard: the hazard;
    rmst_restricted_mean: the scalar; log-rank: the TEST). The arms
    are a content-hash split, so the honest expectation — pinned — is
    a non-significant placebo.

    Determinism: per-time counts and reverse-cumulative risk sets are
    exact integers; each time's E and V are one double expression
    floored to 1e-6 (the mantel_haenszel discipline), so the sums are
    exact BIGINTs and chi2 is one identical scalar expression.
    Times with no churn events contribute nothing and are excluded
    identically (d > 0).

    Scale: one user collapse (one user_id shuffle), then every window
    and sum runs on the distinct-lifetime-day table."""
    e = load(spark, sf_dir).events
    spans = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_day"),
        F.to_date(F.max("ts")).alias("last_day"),
        F.to_date(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("purchase_day"),
    ).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            "A",
        )
        .otherwise("B")
        .alias("arm"),
        "first_day",
        "last_day",
        "purchase_day",
    )
    lives = spans.select(
        "arm",
        F.datediff(
            F.coalesce("purchase_day", "last_day"), "first_day"
        )
        .cast("long")
        .alias("t_days"),
        # 1 = first purchase observed, 0 = censored at last activity
        # (r12 rename from the misleading 'churned')
        F.when(F.col("purchase_day").isNull(), 0).otherwise(1).alias(
            "event"
        ),
    )
    per_t = (
        lives.groupBy("t_days")
        .agg(
            F.sum("event").cast("long").alias("d"),
            F.sum(F.when(F.col("arm") == "A", F.col("event")).otherwise(0))
            .cast("long")
            .alias("d_a"),
            F.count(F.lit(1)).cast("long").alias("total"),
            F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
            .cast("long")
            .alias("total_a"),
        )
    )
    w_risk = W.orderBy("t_days").rowsBetween(
        W.currentRow, W.unboundedFollowing
    )
    risk = per_t.select(
        "t_days",
        "d",
        "d_a",
        F.sum("total").over(w_risk).cast("long").alias("n"),
        F.sum("total_a").over(w_risk).cast("long").alias("n_a"),
    )
    terms = risk.filter(F.col("d") > 0).selectExpr(
        "d_a",
        "CAST(floor(d * (CAST(n_a AS DOUBLE) / n) * 1000000 + 0.001)"
        " AS BIGINT) AS e_micro",
        "CASE WHEN n > 1 THEN"
        " CAST(floor(d * (CAST(n_a AS DOUBLE) / n)"
        " * (1 - CAST(n_a AS DOUBLE) / n)"
        " * (n - d) / (n - 1) * 1000000 + 0.001) AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS v_micro",
    )
    agg = terms.agg(
        F.sum("d_a").cast("long").alias("o_a"),
        F.sum("e_micro").cast("long").alias("se"),
        F.sum("v_micro").cast("long").alias("sv"),
    )
    counts = lives.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long")
        .alias("n_users_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_users_b"),
    )
    chi2 = (
        (F.col("o_a") - F.col("se") / 1_000_000.0)
        * (F.col("o_a") - F.col("se") / 1_000_000.0)
        / (F.col("sv") / 1_000_000.0)
    )
    return agg.crossJoin(F.broadcast(counts)).select(
        "n_users_a",
        "n_users_b",
        F.col("o_a").alias("observed_a"),
        F.round(F.col("se") / 1_000_000.0, 4).alias("expected_a"),
        F.round(chi2, 6).alias("chi2_logrank"),
        (chi2 > 3.8415).cast("int").alias("significant_95"),
    )


@register(
    "weibull_lifetime_fit",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             CAST(date_trunc('day', min(ts)) AS DATE) AS f,
             CAST(date_trunc('day', min(CASE WHEN event_type = 'purchase'
                                             THEN ts END)) AS DATE) AS p
      FROM events GROUP BY user_id
    ),
    lives AS (
      SELECT CAST(date_diff('day', f, p) + 1 AS BIGINT) AS t
      FROM spans WHERE p IS NOT NULL
    ),
    ranked AS (
      SELECT t,
             CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM lives
    ),
    pts AS (
      SELECT CAST(floor(ln(t) * 1000000 + 0.001) AS BIGINT) AS x_micro,
             CAST(floor(ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) * 1000000
                        + 0.001) AS BIGINT) AS y_micro,
             n
      FROM ranked
    ),
    m AS (
      SELECT any_value(n) AS n,
             CAST(count(*) AS BIGINT) AS np,
             CAST(sum(x_micro) AS BIGINT) AS sx,
             CAST(sum(y_micro) AS BIGINT) AS sy,
             sum(CAST(x_micro AS DECIMAL(38,0)) * y_micro) AS sxy,
             sum(CAST(x_micro AS DECIMAL(38,0)) * x_micro) AS sxx
      FROM pts
    ),
    fit AS (
      SELECT n,
             (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS k,
             CAST(sx AS DOUBLE) / (np * 1000000.0) AS mx,
             CAST(sy AS DOUBLE) / (np * 1000000.0) AS my
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_events,
           round(k, 6) AS shape_k,
           round(exp(mx - my / k), 4) AS scale_days,
           round(exp(mx - my / k)
                 * exp(ln(0.693147181) / k), 4) AS median_days
    FROM fit
    """,
)
def weibull_lifetime_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of time-to-first-purchase by median-rank
    probability-plot regression (Bernard's approximation F_i =
    (i-0.3)/(n+0.4); the reliability-engineering standard when you
    want shape AND scale without an iterative MLE): regressing
    y = ln(-ln(1-F)) on x = ln t gives slope = shape k and intercept
    -k ln(lambda), so scale = exp(mean_x - mean_y/k); shape k < 1
    means purchase hazard DECREASES with tenure (buy-early-or-never),
    k > 1 means it accumulates. Median lifetime lambda*(ln 2)^(1/k)
    reported alongside. Parametric companion to the nonparametric
    survival kit (KM / Nelson-Aalen / RMST / log-rank); uncensored
    purchasers only, the classic plotting-paper simplification
    (documented trade-off vs the censoring-aware MLE).

    Determinism: ranks come from a total-ordered window; each row's
    TWO transcendentals (ln t and ln(-ln(1-F)) — F an exact rational)
    are floored to 1e-6 fixed point, so the OLS moment sums are exact
    BIGINT/DECIMAL and the fit is one identical double expression
    (ln 2 spelled as a literal; exp single ops).

    Scale: one fact scan -> user collapse -> purchaser-sized ranked
    table (the mann_whitney window discipline; the oracle's single
    window is over the same bounded table)."""
    e = load(spark, sf_dir).events
    spans = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("f"),
        F.to_date(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("p"),
    )
    lives = spans.filter(F.col("p").isNotNull()).select(
        (F.datediff("p", "f") + 1).cast("long").alias("t")
    )
    ranked = lives.select(
        "t",
        F.row_number().over(W.orderBy("t")).cast("long").alias("i"),
        F.count(F.lit(1))
        .over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .cast("long")
        .alias("n"),
    )
    pts = ranked.selectExpr(
        "CAST(floor(ln(t) * 1000000 + 0.001) AS BIGINT) AS x_micro",
        "CAST(floor(ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) * 1000000"
        " + 0.001) AS BIGINT) AS y_micro",
        "n",
    )
    m = pts.agg(
        F.expr("any_value(n)").alias("n"),
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("x_micro").cast("long").alias("sx"),
        F.sum("y_micro").cast("long").alias("sy"),
        F.expr("sum(CAST(x_micro AS DECIMAL(38,0)) * y_micro)").alias(
            "sxy"
        ),
        F.expr("sum(CAST(x_micro AS DECIMAL(38,0)) * x_micro)").alias(
            "sxx"
        ),
    )
    fit = m.selectExpr(
        "n",
        "(CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS k",
        "CAST(sx AS DOUBLE) / (np * 1000000.0) AS mx",
        "CAST(sy AS DOUBLE) / (np * 1000000.0) AS my",
    )
    return fit.selectExpr(
        "CAST(n AS BIGINT) AS n_events",
        "round(k, 6) AS shape_k",
        "round(exp(mx - my / k), 4) AS scale_days",
        "round(exp(mx - my / k) * exp(ln(0.693147181) / k), 4)"
        " AS median_days",
    )
