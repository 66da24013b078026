"""Advanced relational patterns: as-of joins, skew-salted aggregation,
MERGE/SCD upsert emulation, regexp/array/struct functions, RANGE frames,
remaining join flavors.

These fill the SURVEY.md §2.2 gap rows that the core module doesn't
cover, plus the classic OLAP patterns a warehouse engine is expected to
ship (as-of join and MERGE emulation have no single Spark operator —
they're compositions, which is exactly how Spark wants them expressed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.registry import register


_RANGE_BAND_US = 300_000_000  # 5 minutes in microseconds


@register(
    "range_join_bucketized",
    oracle="""
    WITH p AS (SELECT event_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT ts AS cts FROM events WHERE event_type = 'click'),
         counts AS (
           SELECT p.event_id, count(c.cts) AS n_nearby
           FROM p LEFT JOIN c
             ON c.cts >= p.ts - INTERVAL 5 MINUTE
            AND c.cts <= p.ts + INTERVAL 5 MINUTE
           GROUP BY p.event_id
         )
    SELECT n_nearby, count(*) AS n_purchases
    FROM counts GROUP BY n_nearby
    ORDER BY n_nearby
    """,
)
def range_join_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large GLOBAL range join (no equi key): for every purchase,
    how many clicks — from ANY user — happened within ±5 minutes;
    reported as a histogram of nearby-click counts.

    A naive plan is a nested-loop O(purchases × clicks). The scale shape
    is bucketize-and-explode: both sides bucket time by the band width,
    the PROBE side explodes to its 3 adjacent buckets, the join becomes
    a plain bucket equi-join, and the exact ±band predicate filters the
    3-bucket superset. Work is O(pairs within ±2 bands) — the same trick
    range-join optimizers apply internally. The oracle states the naive
    inequality join directly."""
    e = load(spark, sf_dir).events
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", F.unix_micros("ts").alias("pus")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.unix_micros("ts").alias("cus")
    )
    bucket = lambda col: F.floor(col / F.lit(_RANGE_BAND_US))  # noqa: E731
    pb = p.withColumn(
        "bucket",
        F.explode(F.array(bucket(F.col("pus")) - 1, bucket(F.col("pus")), bucket(F.col("pus")) + 1)),
    )
    cb = c.withColumn("bucket", bucket(F.col("cus")))
    per_purchase = (
        pb.join(cb, "bucket")
        .filter(F.abs(F.col("cus") - F.col("pus")) <= _RANGE_BAND_US)
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_nearby"))
    )
    return (
        p.join(per_purchase, "event_id", "left")
        .select(F.coalesce("n_nearby", F.lit(0)).alias("n_nearby"))
        .groupBy("n_nearby")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("n_nearby")
    )


@register(
    "asof_join_events",
    oracle="""
    SELECT user_id, event_id, round(value, 2) AS click_value,
           round(prev_raw, 2) AS prev_purchase_value
    FROM (
      SELECT user_id, event_id, event_type, value,
             last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_raw
      FROM events
    ) t
    WHERE event_type = 'click'
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY.md §2.2): for every
    click, the value of that user's most recent PRIOR purchase.

    Expressed as last(...ignorenulls) over a ROWS UNBOUNDED..1-PRECEDING
    frame — one shuffle on user_id, no range-join blowup; the same plan
    shape merge_asof-style joins compile to at 100 TB.
    """
    e = load(spark, sf_dir).events
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
    ).over(w)
    return (
        e.withColumn("prev_purchase_value", F.round(prev_purchase, 2))
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            "event_id",
            F.round("value", 2).alias("click_value"),
            "prev_purchase_value",
        )
    )


@register(
    "salted_skew_aggregation",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY event_type
    """,
)
def salted_skew_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys: partial-aggregate on
    (key, salt) — spreading one hot key over 16 reducers — then final-
    aggregate on key. Result identical to a plain groupBy (the oracle);
    the two-phase shape is what survives a hot key at 100 TB (AQE skew
    handling covers joins; salting covers aggregation)."""
    e = load(spark, sf_dir).events
    partial = (
        e.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(16)))
        .groupBy("event_type", "salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("value").alias("pv"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"), F.round(F.sum("pv"), 2).alias("total")
    )


@register(
    "merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, round(o_totalprice + 1000.0, 2) AS price, 'v2' AS version
      FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT o_orderkey, round(o_totalprice, 2) AS price, 'v1' AS version
    FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = orders.o_orderkey)
    UNION ALL
    SELECT o_orderkey, price, version FROM updates
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (upsert without Delta/Iceberg): anti-join the
    base against the update keys, union the updates — the CDC/SCD
    pattern from SURVEY.md §2.2. One shuffle on the merge key.

    The updated price is an ADDITIVE change: multiplying 2-decimal
    doubles lands on exact .005 ties where Spark's BigDecimal HALF_UP
    and DuckDB's multiply-round-divide disagree on the last cent."""
    o = load(spark, sf_dir).orders
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") + 1000.0, 2).alias("price"),
        F.lit("v2").alias("version"),
    )
    base = o.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.lit("v1").alias("version"),
    )
    kept = base.join(updates.select("o_orderkey"), "o_orderkey", "left_anti")
    return kept.unionByName(updates)


@register(
    "regexp_functions",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_type, '([a-z]+)$', 1)              AS last_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g')         AS devoweled,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels,
           CAST(regexp_matches(p_brand, '#1[0-9]$') AS BOOLEAN) AS brand_1x
    FROM part WHERE p_partkey <= 500
    """,
)
def regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar surface: extract / replace-all / count / match."""
    p = load(spark, sf_dir).part.filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", r"([a-z]+)$", 1).alias("last_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.regexp_count("p_name", F.lit("[aeiou]")).alias("n_vowels"),
        F.col("p_brand").rlike("#1[0-9]$").alias("brand_1x"),
    )


@register(
    "array_functions",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT)            AS n_words,
           string_split(text, ' ')[1]                           AS first_word,
           array_to_string(string_split(text, ' ')[1:3], ' ')   AS first3,
           list_contains(string_split(text, ' '), 'the')        AS has_the,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:2], ',')
                                                                AS min2_words
    FROM documents
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface over tokenized text (size / element_at /
    slice / contains / distinct+sort) — all codegen'd, no UDF."""
    d = load(spark, sf_dir).documents
    ws = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(ws).alias("n_words"),
        F.element_at(ws, 1).alias("first_word"),
        F.concat_ws(" ", F.slice(ws, 1, 3)).alias("first3"),
        F.array_contains(ws, "the").alias("has_the"),
        F.concat_ws(",", F.slice(F.array_sort(F.array_distinct(ws)), 1, 2)).alias(
            "min2_words"
        ),
    )


@register(
    "struct_json_access",
    oracle="""
    SELECT event_type, count(*) AS n_high
    FROM events
    WHERE CAST(props->>'$.k' AS INT) > 50
    GROUP BY event_type
    """,
)
def struct_json_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: from_json into a struct column + field access
    (vs json_extraction's string-path get_json_object)."""
    e = load(spark, sf_dir).events
    return (
        e.withColumn("j", F.from_json("props", "k INT"))
        .filter(F.col("j.k") > 50)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_high"))
    )


@register(
    "date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m-%d') AS next_month,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           CAST(dayofweek(o_orderdate) + 1 AS INT)              AS dow,
           CAST(weekofyear(o_orderdate) AS INT)                 AS week
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic surface: add_months (end-of-month clamped in both
    engines), last_day, day-of-week (Spark is 1=Sunday; DuckDB 0=Sunday,
    adjusted in the oracle), ISO week."""
    o = load(spark, sf_dir).orders.filter(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.date_format(F.add_months("o_orderdate", 1), "yyyy-MM-dd").alias("next_month"),
        F.last_day("o_orderdate").cast("string").alias("month_end"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.weekofyear("o_orderdate").alias("week"),
    )


@register(
    "range_frame_window",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY value
                                  RANGE BETWEEN 10 PRECEDING AND CURRENT ROW), 2)
             AS near_sum
    FROM events
    """,
)
def range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) window frame — sums all events of the user
    within 10 units below the current value (peer rows included by
    definition, so the frame is deterministic under ties)."""
    e = load(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("value").rangeBetween(-10, W.currentRow)
    return e.select(
        "user_id", "event_id", F.round(F.sum("value").over(w), 2).alias("near_sum")
    )


@register(
    "right_join_nations",
    oracle="""
    SELECT n_name, count(s_suppkey) AS n_suppliers
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def right_join_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join (kept-side on the right): all nations, supplier
    count possibly zero."""
    t = load(spark, sf_dir)
    return (
        t.supplier.join(t.nation, F.col("s_nationkey") == F.col("n_nationkey"), "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@register(
    "cross_join_dims",
    oracle="""
    SELECT r_name, o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def cross_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Controlled cross join of two TINY dimensions (broadcast nested-
    loop, never a shuffled cartesian) — the scaffold grid for coverage
    reports."""
    t = load(spark, sf_dir)
    statuses = t.orders.select("o_orderstatus").distinct()
    return t.region.select("r_name").crossJoin(F.broadcast(statuses))


@register(
    "union_distinct_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_totalprice > 400000
    UNION
    SELECT c_custkey AS o_custkey FROM customer WHERE c_acctbal < 0
    """,
)
def union_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION with set semantics (vs union_all_tiers' bag semantics)."""
    t = load(spark, sf_dir)
    a = t.orders.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    b = t.customer.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return a.unionByName(b).distinct()


@register(
    "approx_quantiles_profile",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           1 AS median_rank_ok, 1 AS p99_rank_ok, 1 AS parts_within_6pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def approx_quantiles_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based profile: percentile_approx + approx_count_distinct
    per group — the 100 TB substitutes for exact percentile/distinct
    (exact twins: median_exact, distinct_count_by_group).

    Exact-oracle-checked as a PROPERTY (sketch algorithms differ per
    engine by design): the oracle pins the exact group/distinct counts,
    and the flags assert the sketch guarantees — the approx quantile's
    tie-safe rank interval [count(v<q), count(v<=q)] intersects
    p ± 1e-3 (accuracy 10000 ⇒ rank error ≤ 1e-4, 10× slack), and the
    rsd-2% HLL estimate lands within 6% (3σ) of exact."""
    m = 0.001
    li = load(spark, sf_dir).lineitem.select("l_returnflag", "l_extendedprice", "l_partkey")
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("q50"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("q99"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
    )
    # 4-row sketch results broadcast back onto the fact scan; one more
    # pass counts the tie-safe rank brackets + exact distinct
    j = li.join(F.broadcast(approx), "l_returnflag")
    ranked = j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.max("approx_parts").alias("approx_parts"),
        F.sum((F.col("l_extendedprice") < F.col("q50")).cast("long")).alias("lt50"),
        F.sum((F.col("l_extendedprice") <= F.col("q50")).cast("long")).alias("le50"),
        F.sum((F.col("l_extendedprice") < F.col("q99")).cast("long")).alias("lt99"),
        F.sum((F.col("l_extendedprice") <= F.col("q99")).cast("long")).alias("le99"),
    )

    def rank_ok(lt, le, p):
        return (
            (F.col(lt) <= F.col("n_rows") * (p + m))
            & (F.col(le) >= F.col("n_rows") * (p - m))
        ).cast("int")

    return ranked.select(
        "l_returnflag",
        "n_rows",
        "exact_parts",
        rank_ok("lt50", "le50", 0.5).alias("median_rank_ok"),
        rank_ok("lt99", "le99", 0.99).alias("p99_rank_ok"),
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.06
        ).cast("int").alias("parts_within_6pct"),
    ).orderBy("l_returnflag")


@register(
    "map_functions",
    oracle="""
    SELECT l_returnflag,
           round(sum(map(['qty','price'], [l_quantity, l_extendedprice])['qty'][1]), 2)
             AS sum_qty_via_map,
           CAST(max(cardinality(map(['qty','price'], [l_quantity, l_extendedprice]))) AS INT)
             AS map_size,
           min(array_to_string(map_keys(map(['qty','price'], [l_quantity, l_extendedprice])), ','))
             AS keys_csv
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type scalar surface: create_map / element_at / size /
    map_keys (DuckDB's map extraction yields a 1-element list, unwrapped
    with [1] in the oracle)."""
    li = load(spark, sf_dir).lineitem
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity"), F.lit("price"), F.col("l_extendedprice")
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.element_at(m, "qty")), 2).alias("sum_qty_via_map"),
        F.max(F.size(m)).alias("map_size"),
        F.min(F.concat_ws(",", F.map_keys(m))).alias("keys_csv"),
    )


@register(
    "scalar_subquery_sql",
    oracle="""
    SELECT o_orderkey,
           strftime((SELECT max(l_shipdate) FROM lineitem
                     WHERE l_orderkey = o_orderkey), '%Y-%m-%d %H:%M:%S')
             AS last_ship,
           (SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_lines
    FROM orders
    WHERE o_orderkey <= 2000
    """,
)
def scalar_subquery_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subqueries (Catalyst rewrites each into a left
    outer aggregate join — the de-correlation rule the optimizer owes a
    warehouse workload)."""
    cat = load(spark, sf_dir)
    cat.register_views()
    return spark.sql(
        """
        SELECT o_orderkey,
               date_format((SELECT max(l_shipdate) FROM lineitem
                            WHERE l_orderkey = o_orderkey), 'yyyy-MM-dd HH:mm:ss')
                 AS last_ship,
               (SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_lines
        FROM orders
        WHERE o_orderkey <= 2000
        """
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_quantity >= 10
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0+, SQL:2023-era `|>` chaining): the
    same scan→filter→aggregate→order pipeline written as sequential
    pipe stages. Catalyst compiles it to the identical plan as the
    nested form — the oracle is the classic formulation, so the
    hash-match proves semantic equivalence, not just parse success.
    Money routes through DECIMAL on both sides (exact .xx5 ties)."""
    cat = load(spark, sf_dir)
    cat.register_views()
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity >= 10
        |> AGGREGATE count(*) AS n,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n, revenue
        |> ORDER BY l_returnflag
        """
    )


@register(
    "lateral_topn_per_nation",
    oracle="""
    SELECT n_name, c.c_custkey, round(c.c_acctbal, 2) AS acctbal
    FROM nation,
    LATERAL (SELECT c_custkey, c_acctbal FROM customer
             WHERE c_nationkey = n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
    """,
)
def lateral_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL (correlated table) join: top-2 customers per nation by
    balance — the per-row-subquery surface (Catalyst plans it as a
    ranked window join, same as topk_per_group)."""
    cat = load(spark, sf_dir)
    cat.register_views()
    return spark.sql(
        """
        SELECT n_name, c.c_custkey, round(c.c_acctbal, 2) AS acctbal
        FROM nation,
        LATERAL (SELECT c_custkey, c_acctbal FROM customer
                 WHERE c_nationkey = n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        """
    )


@register(
    "set_ops_bag_semantics",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_ops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics — duplicate multiplicity is
    min(left, right), unlike the distinct set_intersect)."""
    o = load(spark, sf_dir).orders
    a = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersectAll(b)


@register(
    "null_ordering_window",
    oracle="""
    SELECT user_id, event_id, rnk FROM (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY prev_value DESC NULLS LAST, event_id) AS rnk
      FROM (
        SELECT user_id, event_id,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        FROM events
      ) t
    ) r WHERE rnk <= 3
    """,
)
def null_ordering_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL ordering in window sorts: rank by a NULLABLE lag
    column with NULLS LAST spelled out — Spark defaults nulls FIRST
    (ascending) while DuckDB defaults NULLS LAST, so implicit null
    placement is a silent cross-engine divergence; every nullable sort
    key in this codebase states its null position."""
    e = load(spark, sf_dir).events
    w_lag = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_rank = W.partitionBy("user_id").orderBy(
        F.col("prev_value").desc_nulls_last(), F.col("event_id")
    )
    return (
        e.withColumn("prev_value", F.lag("value").over(w_lag))
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", "rnk")
    )


@register(
    "incremental_agg_merge",
    oracle="""
    WITH agg_old AS (
      SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
      FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY o_orderstatus
    ),
    agg_delta AS (
      SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
      FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY o_orderstatus
    )
    SELECT o_orderstatus,
           CAST(sum(n) AS BIGINT) AS n,
           round(sum(total), 2) AS total
    FROM (SELECT * FROM agg_old UNION ALL SELECT * FROM agg_delta) u
    GROUP BY o_orderstatus
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a stored pre-1999 aggregate is
    MERGED with the new partition's aggregate by reaggregation — the ETL
    pattern that avoids recomputing history on every load (result equals
    the direct full-table aggregate)."""
    o = load(spark, sf_dir).orders
    cutoff = F.lit("1999-01-01 00:00:00").cast("timestamp")

    def agg_part(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total")
        )

    agg_old = agg_part(o.filter(F.col("o_orderdate") < cutoff))
    agg_delta = agg_part(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        agg_old.unionByName(agg_delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("total"), 2).alias("total"),
        )
    )


@register(
    "variant_json_stats",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS k_total,
           CAST(max(CAST(props->>'$.k' AS INT)) AS INT)    AS k_max,
           count(*) AS n
    FROM events
    WHERE CAST(props->>'$.k' AS INT) IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def variant_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4):
    parse_json once into a binary-encoded variant, then typed
    variant_get path extraction — the modern engine-native route for
    schema-flexible JSON columns.

    vs struct_json_access (from_json with a declared schema) and
    json_extraction (string get_json_object): VARIANT needs NO declared
    schema, parses once, and keeps extraction inside codegen on the
    binary encoding — at 100 TB this is the shape for logs whose keys
    drift, with shredding-friendly storage when written back. The
    aggregation itself is an ordinary partial-final hash agg.
    """
    e = load(spark, sf_dir).events
    v = e.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.expr("try_variant_get(v, '$.k', 'int')").alias("k"),
    )
    return (
        v.filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_total"),
            F.max("k").alias("k_max"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "salted_skew_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_clicks
    FROM events JOIN customer ON user_id = c_custkey
    WHERE event_type = 'click'
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted large×large equi-join: the fact side's hot keys are
    spread over SALTS sub-keys, the other side is replicated once per
    salt, and the join runs on (key, salt) — so one hot user lands on
    SALTS tasks instead of one.

    This is the manual fallback for when AQE's skew-join split cannot
    help: a single key so hot that even one split exceeds a task, or a
    shuffle-hash join AQE won't split. The salt comes from a hash of a
    payload column (event_id), so results are deterministic and the
    oracle is simply the unsalted join. Trade-off stated: the replicated
    side's shuffle volume grows ×SALTS — use only on the keys that need
    it (here: all, for the demonstration; production plans filter to the
    heavy-hitter key list first).
    """
    SALTS = 8
    t = load(spark, sf_dir)
    e = (
        t.events.filter(F.col("event_type") == "click")
        .select("user_id", "event_id")
        .withColumn("salt", F.pmod(F.hash("event_id"), F.lit(SALTS)))
    )
    c = t.customer.select("c_custkey", "c_mktsegment").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALTS)]))
    )
    return (
        e.alias("e")
        .join(
            c.alias("c"),
            (F.col("e.user_id") == F.col("c.c_custkey"))
            & (F.col("e.salt") == F.col("c.salt")),
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .orderBy("c_mktsegment")
    )


@register(
    "recursive_cte_hierarchy",
    oracle="""
    WITH RECURSIVE tree(n_nationkey, n_name, depth, path) AS (
      SELECT n_nationkey, n_name, 0,
             CAST(n_nationkey AS VARCHAR)
      FROM nation WHERE n_nationkey = 0
      UNION ALL
      SELECT c.n_nationkey, c.n_name, t.depth + 1,
             t.path || '/' || CAST(c.n_nationkey AS VARCHAR)
      FROM nation c JOIN tree t
        ON CAST(floor((c.n_nationkey - 1) / 2) AS BIGINT) = t.n_nationkey
       AND c.n_nationkey > 0
    )
    SELECT n_nationkey, n_name, CAST(depth AS INT) AS depth, path
    FROM tree ORDER BY n_nationkey
    """,
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — lands in Spark 4): hierarchical
    traversal computing depth and materialized path over a parent/child
    relation, the org-chart/BOM archetype iterative DataFrame loops had
    to hand-roll before.

    The hierarchy is derived (parent(k) = floor((k-1)/2), a binary tree
    over the 25 nations) so both engines traverse the same edges. Each
    recursion step is one join of the frontier against the child table —
    at scale the frontier stays small relative to the table and the
    engine checkpoints it per step; Spark executes the same plan shape
    as the driver-side loop in graph.min_labels (neardup_clusters'
    connected components), but declaratively.
    """
    cat = load(spark, sf_dir)
    cat.register_views()
    return spark.sql(
        """
        WITH RECURSIVE tree(n_nationkey, n_name, depth, path) AS (
          SELECT n_nationkey, n_name, 0,
                 CAST(n_nationkey AS STRING)
          FROM nation WHERE n_nationkey = 0
          UNION ALL
          SELECT c.n_nationkey, c.n_name, t.depth + 1,
                 concat(t.path, '/', CAST(c.n_nationkey AS STRING))
          FROM nation c JOIN tree t
            ON CAST(floor((c.n_nationkey - 1) / 2) AS BIGINT) = t.n_nationkey
           AND c.n_nationkey > 0
        )
        SELECT n_nationkey, n_name, CAST(depth AS INT) AS depth, path
        FROM tree ORDER BY n_nationkey
        """
    )


@register(
    "try_arithmetic_safety",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice / nullif(o_orderkey % 3, 0), 6) AS safe_ratio,
           TRY_CAST(o_orderpriority AS INT)                   AS bad_cast,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS INT)  AS prio_num
    FROM orders WHERE o_orderkey <= 2000
    ORDER BY o_orderkey
    """,
)
def try_arithmetic_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic surface: try_divide / try_cast return NULL
    where strict ANSI mode would throw (divide-by-zero, bad casts) —
    how a 100 TB pipeline keeps one poisoned row from killing a
    1000-executor job while staying in ANSI mode (Spark 4's default).
    All codegen'd; the oracle states the equivalent nullif/TRY_CAST."""
    o = load(spark, sf_dir).orders.filter(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.round(
            F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 3), 6
        ).alias("safe_ratio"),
        F.col("o_orderpriority").try_cast("int").alias("bad_cast"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_num"),
    ).orderBy("o_orderkey")


def _pareto_filter_pandas(batches):
    """Exact 2-D Pareto filter (min price, max size) over one partition.

    Vectorized: per-price group max (ties on the frontier survive), then
    a cumulative max over strictly-cheaper price groups. Materializes
    the partition in pandas — fine by construction: phase 1 partitions
    are executor-memory-sized, phase 2 input is the tiny survivor set.
    """
    import pandas as pd

    pdfs = list(batches)
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True)
    gmax = pdf.groupby("p_retailprice")["p_size"].max()  # index sorted by price
    prev_cummax = gmax.cummax().shift(1, fill_value=-(10**9))
    keep = (pdf["p_size"].values >= pdf["p_retailprice"].map(gmax).values) & (
        pdf["p_size"].values > pdf["p_retailprice"].map(prev_cummax).values
    )
    yield pdf[keep]


@register(
    "skyline_pareto_front",
    oracle="""
    SELECT p_partkey, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p_retailprice, p_partkey
    """,
)
def skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query: parts not dominated on
    (minimize p_retailprice, maximize p_size) — the multi-criteria
    shortlist operator (Börzsönyi et al., ICDE 2001) SQL can only
    express as a quadratic NOT EXISTS self-join (the oracle).

    Distributed two-phase shape: phase 1 runs the exact local Pareto
    filter per partition (mapInPandas, vectorized — a locally dominated
    point is globally dominated, so dropping it is safe and prunes the
    1e8-row input to ~log-sized survivors per partition); phase 2
    re-runs the identical filter on the single-partition union of
    survivors, which is frontier-sized by then. No all-pairs join, no
    full shuffle — the only data movement is the survivor collapse."""
    part = load(spark, sf_dir).part.select("p_partkey", "p_retailprice", "p_size")
    schema = "p_partkey long, p_retailprice double, p_size int"
    local = part.mapInPandas(_pareto_filter_pandas, schema)
    front = local.repartition(1).mapInPandas(_pareto_filter_pandas, schema)
    return front.orderBy("p_retailprice", "p_partkey")



# Filter size in bits — deliberately UNDER-sized (~7 bits/key at sf0.01)
# so the false-positive column is visibly non-zero in the readout; size
# production filters at ~10 bits/key/hash for ~1% fp. Words pack 32 bits
# each: DuckDB raises on a BIGINT 1<<63 sign-bit shift, so masks stay in
# the 32 low bits on both engines.
_BLOOM_M = 2_048
_BLOOM_LOS = (1, 9, 17)  # md5 hex-digit offsets seeding the k=3 hashes


def _bloom_oracle() -> str:
    """DuckDB twin of the k=3, m=16384 Bloom build/probe (hex-fold
    hashes shared with texthash.md5_word; dedup.py uses the same
    _oracle_hexword shape)."""

    def fold(lo: int) -> str:
        return (
            f"list_reduce(list_transform(range({lo}, {lo + 8}), "
            "i -> CAST(strpos('0123456789abcdef', substr(m, CAST(i AS INT), 1))"
            " - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
        )

    f1, f2, f3 = (f"({fold(lo)} % {_BLOOM_M})" for lo in _BLOOM_LOS)
    return f"""
    WITH keys AS (
      SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS ks
      FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    km AS (SELECT md5(ks) AS m FROM keys),
    kb AS (SELECT unnest([{f1}, {f2}, {f3}]) AS bit FROM km),
    words AS (
      SELECT bit // 32 AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INT)) AS word
      FROM kb GROUP BY 1
    ),
    pm AS (
      SELECT o_custkey, md5(CAST(o_custkey AS VARCHAR)) AS m FROM orders
    ),
    pb AS (SELECT o_custkey, {f1} AS b1, {f2} AS b2, {f3} AS b3 FROM pm),
    probe AS (
      SELECT p.o_custkey,
             coalesce(w1.word & (CAST(1 AS BIGINT) << CAST(p.b1 % 32 AS INT)), 0)
               <> 0
             AND coalesce(w2.word & (CAST(1 AS BIGINT) << CAST(p.b2 % 32 AS INT)), 0)
               <> 0
             AND coalesce(w3.word & (CAST(1 AS BIGINT) << CAST(p.b3 % 32 AS INT)), 0)
               <> 0 AS pass,
             EXISTS (SELECT 1 FROM keys k WHERE k.c_custkey = p.o_custkey)
               AS member
      FROM pb p
      LEFT JOIN words w1 ON w1.w = p.b1 // 32
      LEFT JOIN words w2 ON w2.w = p.b2 // 32
      LEFT JOIN words w3 ON w3.w = p.b3 // 32
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_keys,
           CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_pass,
           CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_match,
           CAST(sum(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_positive,
           CAST(sum(CASE WHEN member AND NOT pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_negative,
           round(sum(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END) * 1.0
                 / sum(CASE WHEN NOT member THEN 1 ELSE 0 END), 6) AS fp_rate
    FROM probe
    """


@register(
    "bloom_filter_prefilter",
    oracle=_bloom_oracle(),
)
def bloom_filter_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pre-filter — the shuffle-reduction pattern
    for selective fact⋈dim joins at 100 TB: hash the dim-side key set
    (customers in the BUILDING segment) into a 16384-bit, k=3 Bloom
    bitmap, broadcast the 512-word bitmap table, and probe every order
    MAP-SIDE with three ≤512-row broadcast left joins — the fact table
    never shuffles, and rows failing the bloom would be dropped before
    any real join. The readout quantifies the trade: bloom passes vs
    exact semi-join matches, false positives (expected; rate reported)
    and false negatives (structurally impossible — the column proves 0,
    which the oracle re-derives independently).

    Hashes are three 32-bit hex folds of ONE md5 per key
    (texthash.md5_word offsets 1/9/17), so the filter is deterministic
    and engine-reproducible — unlike spark's built-in bloom runtime
    filter, which is plan-internal and unobservable. The exact
    membership check rides the same scan as a broadcast left join, so
    the whole audit is one pass over orders."""
    import data_warehouse_data_mining_spark.functions.texthash as th

    t = load(spark, sf_dir)
    keys = (
        t.customer.filter(F.col("c_mktsegment") == "BUILDING")
        .select(
            "c_custkey", F.col("c_custkey").cast("string").alias("ks")
        )
        # dim-subset-sized; feeds the bitmap build, the key count, and
        # the exact-membership join
        .localCheckpoint(eager=True)
    )
    m = _BLOOM_M
    kb = keys.select(
        F.explode(
            F.array(*[th.md5_word(F.col("ks"), lo) % m for lo in _BLOOM_LOS])
        ).alias("bit")
    )
    words = kb.groupBy(F.expr("bit div 32").alias("w")).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT)))"
        ).alias("word")
    )
    n_keys = keys.agg(F.count(F.lit(1)).alias("n_keys"))

    probe = t.orders.select(
        "o_custkey",
        *[
            (th.md5_word(F.col("o_custkey").cast("string"), lo) % m).alias(
                f"b{i + 1}"
            )
            for i, lo in enumerate(_BLOOM_LOS)
        ],
    )
    for i in (1, 2, 3):
        wt = words.select(
            F.col("w").alias(f"w{i}"), F.col("word").alias(f"word{i}")
        )
        probe = probe.join(
            F.broadcast(wt), F.expr(f"b{i} div 32") == F.col(f"w{i}"), "left"
        )
    hit = None
    for i in (1, 2, 3):
        h = (
            F.coalesce(
                F.expr(
                    f"word{i} & shiftleft(CAST(1 AS BIGINT),"
                    f" CAST(b{i} % 32 AS INT))"
                ),
                F.lit(0),
            )
            != 0
        )
        hit = h if hit is None else (hit & h)
    probe = probe.join(
        keys.select("c_custkey", F.lit(True).alias("member")),
        probe.o_custkey == F.col("c_custkey"),
        "left",
    ).select(hit.alias("pass"), F.coalesce("member", F.lit(False)).alias("member"))
    agg = probe.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_bloom_pass"),
        F.sum(F.when(F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_match"),
        F.sum(F.when(F.col("pass") & ~F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_positive"),
        F.sum(F.when(F.col("member") & ~F.col("pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_negative"),
        F.round(
            F.sum(F.when(F.col("pass") & ~F.col("member"), 1).otherwise(0))
            / F.sum(F.when(~F.col("member"), 1).otherwise(0)),
            6,
        ).alias("fp_rate"),
    )
    return agg.crossJoin(F.broadcast(n_keys)).select(
        "n_orders",
        "n_keys",
        "n_bloom_pass",
        "n_true_match",
        "n_false_positive",
        "n_false_negative",
        "fp_rate",
    )


@register(
    "calendar_dim_build",
    oracle="""
    WITH span AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS mind,
             CAST(max(o_orderdate) AS DATE) AS maxd
      FROM orders
    ),
    days AS (
      SELECT CAST(mind + i * INTERVAL 1 DAY AS DATE) AS d
      FROM span, unnest(range(0, date_diff('day', mind, maxd) + 1)) AS t(i)
    )
    SELECT strftime(d, '%Y-%m-%d') AS date_str,
           CAST(year(d) AS INT) AS year,
           CAST(quarter(d) AS INT) AS quarter,
           CAST(month(d) AS INT) AS month,
           CAST(day(d) AS INT) AS day,
           CAST(weekofyear(d) AS INT) AS iso_week,
           CAST(isodow(d) AS INT) AS weekday_iso,
           CASE WHEN d = last_day(d) THEN 1 ELSE 0 END AS is_month_end,
           CAST(year(d) + CASE WHEN month(d) >= 2 THEN 1 ELSE 0 END AS INT)
             AS fiscal_year,
           CAST((month(d) + 10) % 12 // 3 + 1 AS INT) AS fiscal_quarter
    FROM days
    ORDER BY date_str
    """,
)
def calendar_dim_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generation — the date spine every warehouse
    joins against: one row per day across the fact table's observed
    [min, max] order-date span, with civil attributes (ISO week/weekday,
    month-end flag) and a February-start fiscal calendar (FY(n) runs
    Feb n-1 .. Jan n; fiscal Q1 = Feb-Apr).

    Generator shape: the span is a 1-row aggregate of orders,
    ``sequence()`` + ``explode`` fans it into the day spine with no
    driver-side loop and no source table for the spine itself — the
    spine is ~2.4k rows for 6.5 years and stays calendar-bounded at any
    data scale (it's the textbook broadcast-side dimension). All
    attributes are integer/date arithmetic; ISO week + weekday are the
    fields where engines classically disagree, so their cross-engine
    parity is exactly what the oracle pins (Spark weekofyear == DuckDB
    weekofyear == ISO 8601)."""
    o = load(spark, sf_dir).orders
    span = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("mind"),
        F.max(F.col("o_orderdate").cast("date")).alias("maxd"),
    )
    days = span.select(
        F.explode(F.expr("sequence(mind, maxd, interval 1 day)")).alias("d")
    )
    return days.select(
        F.date_format("d", "yyyy-MM-dd").alias("date_str"),
        F.year("d").cast("int").alias("year"),
        F.quarter("d").cast("int").alias("quarter"),
        F.month("d").cast("int").alias("month"),
        F.dayofmonth("d").cast("int").alias("day"),
        F.weekofyear("d").cast("int").alias("iso_week"),
        (F.weekday("d") + 1).cast("int").alias("weekday_iso"),
        F.when(F.col("d") == F.last_day("d"), 1).otherwise(0).alias(
            "is_month_end"
        ),
        (F.year("d") + F.when(F.month("d") >= 2, 1).otherwise(0))
        .cast("int")
        .alias("fiscal_year"),
        F.expr("CAST((month(d) + 10) % 12 div 3 + 1 AS INT)").alias(
            "fiscal_quarter"
        ),
    ).orderBy("date_str")


_ASOF_TOL_US = 6 * 3600 * 1_000_000  # 6 hours


@register(
    "asof_join_tolerance",
    oracle=f"""
    SELECT user_id, event_id, round(value, 2) AS click_value,
           CASE WHEN epoch_us(ts) - prev_ts <= {_ASOF_TOL_US}
                THEN round(prev_raw, 2) END AS prev_purchase_within_6h,
           CASE WHEN epoch_us(ts) - prev_ts <= {_ASOF_TOL_US}
                THEN CAST(epoch_us(ts) - prev_ts AS BIGINT) END
             AS staleness_us
    FROM (
      SELECT user_id, event_id, event_type, value, ts,
             last_value(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_raw,
             last_value(CASE WHEN event_type = 'purchase'
                             THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_ts
      FROM events
    ) t
    WHERE event_type = 'click'
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance — pandas merge_asof's
    ``tolerance=`` / kdb wj semantics: each click sees its user's most
    recent prior purchase ONLY if it happened within 6 hours, else
    NULL, plus the exact staleness in µs. The tolerance is what makes
    as-of correct for quote/price lookups at scale — an unbounded
    backward match silently joins arbitrarily stale state
    (asof_join_events shows the unbounded flavor).

    Same scale shape as the unbounded as-of: value and timestamp ride
    the SAME last(... ignorenulls) window frame over one user_id
    shuffle — no range-join fanout, no second pass; the tolerance is a
    map-side filter on the exact integer µs gap."""
    e = load(spark, sf_dir).events
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_val = F.last(
        F.when(F.col("event_type") == "purchase", F.col("value")),
        ignorenulls=True,
    ).over(w)
    prev_ts = F.last(
        F.when(F.col("event_type") == "purchase", F.unix_micros("ts")),
        ignorenulls=True,
    ).over(w)
    gap = F.unix_micros("ts") - prev_ts
    fresh = gap <= _ASOF_TOL_US
    return (
        e.select(
            "user_id",
            "event_id",
            "event_type",
            F.round("value", 2).alias("click_value"),
            F.when(fresh, F.round(prev_val, 2)).alias(
                "prev_purchase_within_6h"
            ),
            F.when(fresh, gap).cast("long").alias("staleness_us"),
        )
        .filter(F.col("event_type") == "click")
        .drop("event_type")
    )


@register(
    "incremental_agg_maintenance",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mon,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: a monthly revenue
    rollup is maintained from a BASE partial aggregate (orders before
    1997) merged with a DELTA batch's partial aggregate (1997 onward) by
    algebraic re-aggregation — sum of sums, sum of counts — and the
    oracle is the full single-pass rebuild, so the hash check IS the
    proof that incremental == full. This is how a nightly pipeline
    avoids reprocessing years of history: distributive/algebraic
    measures (count, sum; avg as sum+count) merge exactly per partition,
    so each refresh touches only the delta's partitions.

    Scale shape: both branches carry their date filter into the scan
    (PushedFilters; with a date-partitioned layout this is partition
    pruning — the delta branch reads only new partitions), each branch
    pre-aggregates map-side before its shuffle, and the merge is a
    re-agg on the tiny (year, month) key space. Money stays in exact
    integer cents end to end."""
    o = load(spark, sf_dir).orders
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    cutoff = F.lit("1997-01-01").cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mon"),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("revenue_cents"),
        )

    base = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("yr", "mon")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("yr", "mon")
    )


@register(
    "incremental_join_maintenance",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1 ORDER BY 1
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-JOIN maintenance — the delta algebra
    (A∪ΔA)⋈(B∪ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, the join half of view
    maintenance next to incremental_agg_maintenance's aggregate half.
    Orders arriving from 1997 are the fact delta ΔA; customers with
    c_custkey % 97 == 0 stand in for newly-registered dimension rows
    ΔB. The Spark side assembles the maintained join from the four
    disjoint pieces (the stored base A⋈B plus the three delta joins a
    refresh would compute); the oracle is the full single-pass rebuild
    — the hash check IS the incremental==full proof.

    Scale shape: each delta piece joins a FILTERED (pruned-partition /
    small) input, so a nightly refresh computes ΔA⋈B (delta-fact
    against the dimension), A⋈ΔB (history against the tiny new-dim
    batch — the one expensive piece, which real systems bound by
    keying the store on the join key), and ΔA⋈ΔB (tiny×tiny); the
    union re-aggregates on the bounded nation key. Splits are disjoint
    and exhaustive by construction, so no row is double-counted."""
    t = load(spark, sf_dir)
    cutoff = F.lit("1997-01-01").cast("date")
    is_delta_cust = F.col("c_custkey") % 97 == 0
    o_base = t.orders.filter(F.col("o_orderdate") < cutoff)
    o_delta = t.orders.filter(F.col("o_orderdate") >= cutoff)
    c_base = t.customer.filter(~is_delta_cust)
    c_delta = t.customer.filter(is_delta_cust)
    nation = F.broadcast(t.nation)

    def piece(o_side: DataFrame, c_side: DataFrame) -> DataFrame:
        return (
            o_side.join(c_side, F.col("c_custkey") == F.col("o_custkey"))
            .join(nation, F.col("n_nationkey") == F.col("c_nationkey"))
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
                .alias("revenue_cents"),
            )
        )

    maintained = (
        piece(o_base, c_base)       # stored base view
        .unionByName(piece(o_delta, c_base))   # ΔA ⋈ B
        .unionByName(piece(o_base, c_delta))   # A ⋈ ΔB
        .unionByName(piece(o_delta, c_delta))  # ΔA ⋈ ΔB
    )
    return (
        maintained.groupBy("nation")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("nation")
    )
