"""Data-quality / validation operators: the constraint checks a
warehouse runs before trusting a load — referential integrity,
key uniqueness, domain ranges, arrival-order auditing, fuzzy key
matching. All single-pass or single-join shapes, oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.registry import register


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT 'orders.o_custkey -> customer' AS fk, count(*) AS n_orphans
    FROM orders WHERE NOT EXISTS
      (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders', count(*)
    FROM lineitem WHERE NOT EXISTS
      (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
    UNION ALL
    SELECT 'lineitem.l_partkey -> part', count(*)
    FROM lineitem WHERE NOT EXISTS
      (SELECT 1 FROM part WHERE p_partkey = l_partkey)
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan counts via anti-joins (dimension side
    broadcastable; the fact side never moves more than once)."""
    t = load(spark, sf_dir)
    checks = [
        ("orders.o_custkey -> customer", t.orders, "o_custkey", t.customer, "c_custkey"),
        ("lineitem.l_orderkey -> orders", t.lineitem, "l_orderkey", t.orders, "o_orderkey"),
        ("lineitem.l_partkey -> part", t.lineitem, "l_partkey", t.part, "p_partkey"),
    ]
    out = None
    for label, fact, fk, dim, pk in checks:
        orphans = (
            fact.join(dim.select(pk), fact[fk] == dim[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )
        out = orphans if out is None else out.unionByName(orphans)
    return out


@register(
    "dq_key_uniqueness",
    oracle="""
    SELECT 'orders.o_orderkey' AS key_col,
           count(*) - count(DISTINCT o_orderkey) AS n_duplicate_rows
    FROM orders
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)',
           count(*) - count(DISTINCT l_orderkey * 100 + l_linenumber)
    FROM lineitem
    UNION ALL
    SELECT 'documents.doc_id', count(*) - count(DISTINCT doc_id) FROM documents
    """,
)
def dq_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness: duplicate-row counts per declared key
    (composite keys via an injective encoding)."""
    t = load(spark, sf_dir)
    rows = [
        ("orders.o_orderkey",
         t.orders.agg((F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("d"))),
        ("lineitem.(l_orderkey,l_linenumber)",
         t.lineitem.agg((F.count(F.lit(1)) - F.countDistinct(
             F.col("l_orderkey") * 100 + F.col("l_linenumber"))).alias("d"))),
        ("documents.doc_id",
         t.documents.agg((F.count(F.lit(1)) - F.countDistinct("doc_id")).alias("d"))),
    ]
    out = None
    for label, agg in rows:
        part = agg.select(F.lit(label).alias("key_col"), F.col("d").alias("n_duplicate_rows"))
        out = part if out is None else out.unionByName(part)
    return out


@register(
    "dq_domain_ranges",
    oracle="""
    SELECT count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.5) AS bad_discount,
           count(*) FILTER (WHERE l_quantity <= 0)                    AS bad_quantity,
           count(*) FILTER (WHERE l_tax < 0)                          AS bad_tax,
           count(*) FILTER (WHERE l_shipdate < TIMESTAMP '1990-01-01 00:00:00'
                               OR l_shipdate > TIMESTAMP '2030-01-01 00:00:00')
                                                                      AS bad_shipdate
    FROM lineitem
    """,
)
def dq_domain_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/range constraint violations in ONE scan (batched
    conditional counts — never one job per rule)."""
    li = load(spark, sf_dir).lineitem
    return li.agg(
        F.count(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1)).alias(
            "bad_discount"
        ),
        F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("bad_quantity"),
        F.count(F.when(F.col("l_tax") < 0, 1)).alias("bad_tax"),
        F.count(
            F.when(
                (F.col("l_shipdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("l_shipdate") > F.lit("2030-01-01").cast("timestamp")),
                1,
            )
        ).alias("bad_shipdate"),
    )


@register(
    "out_of_order_events",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           count(*) FILTER (WHERE ts < max_prior_ts) AS n_out_of_order
    FROM (
      SELECT user_id, ts,
             max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_prior_ts
      FROM events
    ) t
    GROUP BY user_id
    """,
)
def out_of_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-order audit: events whose event time precedes an earlier
    arrival (event_id = arrival order) — the lateness profile that sizes
    streaming watermarks."""
    e = load(spark, sf_dir).events
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        e.withColumn("max_prior_ts", F.max("ts").over(w))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("ts") < F.col("max_prior_ts"), 1)).alias(
                "n_out_of_order"
            ),
        )
    )


@register(
    "fuzzy_match_part_names",
    oracle="""
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_distance
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy key matching: Levenshtein-close name pairs, blocked by
    brand so the pairwise work stays within blocks (the edit-distance
    cousin of the dedup family)."""
    p = load(spark, sf_dir).part
    a = p.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_name").alias("name_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, (F.col("brand_a") == F.col("brand_b")) & (F.col("part_a") < F.col("part_b")))
        .filter(dist <= 2)
        .select("part_a", "part_b", dist.alias("edit_distance"))
    )


@register(
    "table_checksum",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_rows,
           bit_xor(CAST('0x' || substr(md5(
             concat_ws('|',
               CAST(o_orderkey AS VARCHAR),
               CAST(o_custkey AS VARCHAR),
               o_orderstatus,
               CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR),
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
               o_orderpriority)), 1, 15) AS BIGINT)) AS checksum
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-group table fingerprint: XOR of per-row
    md5-derived 60-bit integers over a canonical row rendering.

    The migration/replication validation primitive at 100 TB — compare
    per-partition checksums across two systems without moving rows.
    XOR (not SUM) so the aggregate cannot overflow and any row order /
    partitioning gives the same value; md5 + integer rendering because
    both engines produce bit-identical canonical strings (doubles are
    rendered as scaled BIGINTs — raw double formatting diverges between
    engines, e.g. Spark's scientific notation above 1e7)."""
    o = load(spark, sf_dir).orders
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.col("o_orderpriority"),
    )
    row_hash = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(row_hash).alias("checksum"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "snapshot_diff",
    oracle="""
    WITH new_snap AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'O'
                  THEN round(o_totalprice * 1.1, 2) ELSE o_totalprice END
               AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 97 <> 0
    ),
    old_snap AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_totalprice <> n.o_totalprice
                       OR o.o_orderstatus <> n.o_orderstatus THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM old_snap o FULL OUTER JOIN new_snap n USING (o_orderkey)
    ) GROUP BY change_type ORDER BY change_type
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: classify every key of two table versions
    as added / removed / changed / unchanged — the audit step between
    any two loads of the same table (and the generic form of
    table_checksum's yes/no answer).

    The "new" snapshot is derived deterministically from orders (every
    97th key dropped, open orders repriced) so the diff is
    oracle-checkable. One full outer join on the key — a single
    co-partitioned shuffle; the value comparison is a residual
    projection, so the plan is the same at any number of columns (hash
    the concatenated values for very wide tables, as table_checksum
    does)."""
    o = load(spark, sf_dir).orders.select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new_snap = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderstatus") == "O", F.round(F.col("o_totalprice") * 1.1, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("n_totalprice"),
        F.col("o_orderstatus").alias("n_orderstatus"),
    )
    joined = o.withColumnRenamed("o_orderkey", "key").join(
        new_snap.withColumnRenamed("o_orderkey", "key"), "key", "full_outer"
    )
    return (
        joined.select(
            F.when(F.col("o_totalprice").isNull(), "added")
            .when(F.col("n_totalprice").isNull(), "removed")
            .when(
                (F.col("o_totalprice") != F.col("n_totalprice"))
                | (F.col("o_orderstatus") != F.col("n_orderstatus")),
                "changed",
            )
            .otherwise("unchanged")
            .alias("change_type")
        )
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change_type")
    )


@register(
    "dq_outlier_mad",
    oracle="""
    WITH med AS (
      SELECT o_orderstatus,
             round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 6) AS med
      FROM orders GROUP BY o_orderstatus
    ),
    dev AS (
      SELECT o.o_orderstatus, abs(o.o_totalprice - m.med) AS adev
      FROM orders o JOIN med m ON o.o_orderstatus = m.o_orderstatus
    ),
    mad AS (
      SELECT o_orderstatus,
             round(percentile_cont(0.5) WITHIN GROUP (ORDER BY adev), 6) AS mad
      FROM dev GROUP BY o_orderstatus
    )
    SELECT d.o_orderstatus, m2.mad,
           CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m2.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           count(*) AS n_rows
    FROM dev d JOIN mad m2 ON d.o_orderstatus = m2.o_orderstatus
    GROUP BY d.o_orderstatus, m2.mad
    ORDER BY d.o_orderstatus
    """,
)
def dq_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: flag rows beyond 3 scaled MADs (median
    absolute deviations) from their group median — the
    mean/stddev-z-score rule breaks when the outliers themselves inflate
    the stddev; median/MAD does not.

    Both medians come from ``exact_group_percentiles`` (sketch-bracketed
    exact selection — no per-group whole-column agg buffer), so the
    operator survives groups of any size. The per-group median and MAD
    are 1-row-per-group sides that AQE broadcasts back onto the fact
    table; both engines then compare identical IEEE doubles, making the
    strict > threshold engine-exact. 1.4826 ≈ 1/Φ⁻¹(3/4) scales MAD to
    σ-equivalents under normality.
    """
    from data_warehouse_data_mining_spark.operators.relational import (
        exact_group_percentiles,
    )

    o = load(spark, sf_dir).orders.select("o_orderstatus", "o_totalprice")
    med = (
        exact_group_percentiles(o, "o_orderstatus", "o_totalprice", [0.5])
        .select("o_orderstatus", F.round("val", 6).alias("med"))
    )
    # the second percentile pass references its input several times
    # (sketch, count-below, bracket-rank); without materializing, each
    # reference re-derives dev = orders ⋈ med — i.e. re-runs the whole
    # first median computation (plan audit showed 25 scans).
    # localCheckpoint (not persist) computes it once AND releases its
    # blocks via GC after the query, so nothing stays cached across a
    # registered-query sweep.
    dev = (
        o.join(med, "o_orderstatus")
        .select(
            "o_orderstatus",
            F.abs(F.col("o_totalprice") - F.col("med")).alias("adev"),
        )
        .localCheckpoint(eager=True)
    )
    mad = (
        exact_group_percentiles(dev, "o_orderstatus", "adev", [0.5])
        .select("o_orderstatus", F.round("val", 6).alias("mad"))
    )
    return (
        dev.join(mad, "o_orderstatus")
        .groupBy("o_orderstatus", "mad")
        .agg(
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "dq_skew_profile",
    oracle="""
    WITH per_key AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT count(*) AS n_keys,
             CAST(max(n) AS BIGINT) AS max_rows,
             CAST(sum(n) AS BIGINT) AS total_rows
      FROM per_key
    ),
    top AS (
      SELECT user_id, n,
             row_number() OVER (ORDER BY n DESC, user_id) AS rk
      FROM per_key
    )
    SELECT t.rk AS rank, t.user_id AS hot_key, CAST(t.n AS BIGINT) AS n_rows,
           s.n_keys,
           round(t.n * 1.0 * s.n_keys / s.total_rows, 6) AS skew_ratio
    FROM top t CROSS JOIN stats s
    WHERE t.rk <= 10
    ORDER BY t.rk
    """,
)
def dq_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the 10 hottest keys of a prospective
    shuffle key with each key's rows and its skew ratio
    (key_rows / mean_rows_per_key) — the profiling step that decides
    between plain shuffle, AQE skew split, and manual salting
    (salted_skew_join / salted_skew_aggregation).

    One count aggregate on the key, a 1-row global stats broadcast, and
    a top-k — the per-key count table is keys-sized, never rows-sized,
    so the diagnostic is safe to run on the full 100 TB fact table.
    Ratio arithmetic is exact-int division done identically by both
    engines.
    """
    e = load(spark, sf_dir).events
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("total_rows"),
    )
    # top-10 via orderBy+limit = Spark's distributed TakeOrdered (each
    # partition offers its local top-10), NOT a keys-sized one-partition
    # row_number window; the rank is then re-derived on the 10-row
    # result where a global window is bounded by construction.
    w = W.orderBy(F.col("n").desc(), "user_id")
    top = (
        per_key.orderBy(F.col("n").desc(), "user_id")
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
    )
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            "rank",
            F.col("user_id").alias("hot_key"),
            F.col("n").alias("n_rows"),
            "n_keys",
            F.round(
                F.col("n") * F.lit(1.0) * F.col("n_keys") / F.col("total_rows"), 6
            ).alias("skew_ratio"),
        )
        .orderBy("rank")
    )


@register(
    "zone_map_manifest",
    oracle="""
    SELECT 'lineitem.parquet' AS file_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(l_orderkey) AS BIGINT) AS max_orderkey,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem
    """,
)
def zone_map_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map / manifest table: per physical file, row count and
    min/max of the columns queries filter on — the data-skipping index
    an Iceberg/Delta manifest carries, built here as a plain aggregate
    keyed by ``input_file_name()``. A planner (or a human) joins a
    predicate against this table to prune files before any scan; on a
    100 TB partitioned table the manifest is files-sized, and the
    aggregation is map-side partial per file with no extra shuffle of
    the data columns.

    The file key is the basename (engines render directory URIs
    differently; min/max/count are layout-independent). The oracle
    names the file literally because the driver's DuckDB views hide
    the filename pseudo-column; the testdata layout is one file per
    table (TESTDATA.md) — on a multi-file table the Spark side emits
    one manifest row per file as-is."""
    li = load(spark, sf_dir).lineitem
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return (
        li.groupBy(fname.alias("file_name"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_orderkey"),
            F.max("l_orderkey").alias("max_orderkey"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .orderBy("file_name")
    )


@register(
    "dq_distribution_drift",
    oracle="""
    WITH binned AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 'baseline' ELSE 'current' END AS era,
             CAST(least(floor(o_totalprice / 50000.0), 9) AS INT) AS bin
      FROM orders
    ),
    counts AS (
      SELECT era, bin, count(*) AS n FROM binned GROUP BY era, bin
    ),
    tot AS (SELECT era, CAST(sum(n) AS BIGINT) AS t FROM counts GROUP BY era),
    probs AS (
      SELECT c.bin,
             CAST(max(CASE WHEN c.era = 'baseline' THEN c.n END) AS BIGINT) AS n_base,
             CAST(max(CASE WHEN c.era = 'current'  THEN c.n END) AS BIGINT) AS n_cur,
             max(CASE WHEN c.era = 'baseline' THEN c.n * 1.0 / t.t END) AS p,
             max(CASE WHEN c.era = 'current'  THEN c.n * 1.0 / t.t END) AS q
      FROM counts c JOIN tot t USING (era)
      GROUP BY c.bin
    )
    SELECT bin, n_base, n_cur,
           round((p - q) * ln(p / q), 6) AS psi_term
    FROM probs
    ORDER BY bin
    """,
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (Population Stability Index): the
    o_totalprice distribution of pre-1998 orders (baseline) vs later
    orders (current), in 10 fixed 50k-wide bins, with each bin's PSI
    contribution (p-q)·ln(p/q). The per-bin long format keeps the
    operator a pure aggregation — the consumer sums psi_term and
    alerts at the usual 0.1/0.25 thresholds.

    Both eras come out of ONE scan (conditional aggregation keyed by
    (era, bin)); probabilities are exact integer-count ratios so the
    only float op is the final (p-q)·ln(p/q), identical per-bin in both
    engines (no accumulation). Every bin is populated in both eras for
    this data; empty bins would need the usual ε-smoothing, which is a
    policy choice left to the caller."""
    o = load(spark, sf_dir).orders
    era = F.when(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "baseline"
    ).otherwise("current")
    bin_ = F.least(F.floor(F.col("o_totalprice") / 50000.0), F.lit(9)).cast("int")
    counts = (
        o.select(era.alias("era"), bin_.alias("bin"))
        .groupBy("era", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.groupBy("era").agg(F.sum("n").alias("t"))
    probs = (
        counts.join(F.broadcast(tot), "era")
        .groupBy("bin")
        .agg(
            F.max(F.when(F.col("era") == "baseline", F.col("n"))).alias("n_base"),
            F.max(F.when(F.col("era") == "current", F.col("n"))).alias("n_cur"),
            F.max(
                F.when(F.col("era") == "baseline", F.col("n") / F.col("t"))
            ).alias("p"),
            F.max(
                F.when(F.col("era") == "current", F.col("n") / F.col("t"))
            ).alias("q"),
        )
    )
    return probs.select(
        "bin",
        "n_base",
        "n_cur",
        F.round(
            (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 6
        ).alias("psi_term"),
    ).orderBy("bin")


@register(
    "benford_first_digit",
    oracle="""
    WITH pos AS (
      SELECT CAST(floor(o_totalprice / power(10, floor(log10(o_totalprice))))
                  AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
               FROM pos GROUP BY digit),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS t FROM counts)
    SELECT digit, n_obs,
           round(t * log10(1 + 1.0 / digit), 2) AS n_expected,
           round(pow(n_obs - t * log10(1 + 1.0 / digit), 2)
                 / (t * log10(1 + 1.0 / digit)), 6) AS chi2_term
    FROM counts CROSS JOIN tot
    ORDER BY digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law fraud/entry-error audit: the first-significant-digit
    distribution of o_totalprice vs the Benford expectation
    log10(1 + 1/d), with the per-digit chi-square contribution
    (obs - exp)^2 / exp. Fabricated or unit-mangled monetary columns
    bend away from Benford; the consumer sums chi2_term against the
    chi-square(8) critical value.

    One scan, 9-row output: the digit extraction
    floor(x / 10^floor(log10 x)) is pure codegen, the aggregation is a
    9-group hash-agg with map-side partials, and the expectation/chi2
    arithmetic runs per-digit on the 9-row result (no double
    accumulation — the only sums are integer counts, so both engines
    agree bit-for-bit after the final per-row rounding)."""
    o = load(spark, sf_dir).orders.filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = counts.agg(F.sum("n_obs").alias("t"))
    exp = F.col("t") * F.log10(1 + 1.0 / F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(exp, 2).alias("n_expected"),
            F.round(F.pow(F.col("n_obs") - exp, 2) / exp, 6).alias("chi2_term"),
        )
        .orderBy("digit")
    )


@register(
    "column_entropy_profile",
    oracle="""
    WITH oc AS (
      SELECT o_orderpriority AS pr, o_orderstatus AS st, count(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    long AS (
      SELECT 'o_orderpriority' AS column_name, pr AS val,
             CAST(sum(n) AS BIGINT) AS n FROM oc GROUP BY pr
      UNION ALL
      SELECT 'o_orderstatus', st, CAST(sum(n) AS BIGINT) FROM oc GROUP BY st
      UNION ALL
      SELECT 'c_mktsegment', c_mktsegment, CAST(count(*) AS BIGINT)
      FROM customer GROUP BY c_mktsegment
    ),
    tot AS (SELECT column_name, CAST(sum(n) AS BIGINT) AS t
            FROM long GROUP BY column_name)
    SELECT l.column_name,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(-sum((l.n * 1.0 / t.t) * ln(l.n * 1.0 / t.t)), 6)
               AS entropy_nats,
           round(max(l.n) * 1.0 / t.t, 6) AS top_freq_ratio
    FROM long l JOIN tot t USING (column_name)
    GROUP BY l.column_name, t.t
    ORDER BY l.column_name
    """,
)
def column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-column information profile: Shannon entropy (nats),
    distinct count and modal-frequency ratio for the warehouse's
    low-cardinality string columns — the signal a profiler uses to pick
    dictionary encodings, spot near-constant columns (entropy ~ 0) and
    catch category explosions between loads.

    The two orders columns come out of ONE fact scan (a single
    (priority, status) hash-agg, then two marginal regroups of the
    tiny combo table); customer is its own single scan. Probabilities
    are exact integer-count ratios; the entropy sum runs over <=6
    distinct values per column, so double addition order cannot move
    the 6-decimal rounding."""
    t = load(spark, sf_dir)
    # localCheckpoint (not persist): the <=9-row combo table is computed
    # once for both marginal regroups and leaves no cached blocks behind.
    oc = (
        t.orders.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    long = (
        oc.groupBy(F.col("o_orderpriority").alias("val"))
        .agg(F.sum("n").alias("n"))
        .select(F.lit("o_orderpriority").alias("column_name"), "val", "n")
        .unionByName(
            oc.groupBy(F.col("o_orderstatus").alias("val"))
            .agg(F.sum("n").alias("n"))
            .select(F.lit("o_orderstatus").alias("column_name"), "val", "n")
        )
        .unionByName(
            t.customer.groupBy(F.col("c_mktsegment").alias("val"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("c_mktsegment").alias("column_name"), "val", "n")
        )
        # <=16 rows; checkpoint so the per-column totals and the entropy
        # join don't each re-run the customer scan.
        .localCheckpoint(eager=True)
    )
    tot = long.groupBy("column_name").agg(F.sum("n").alias("t"))
    p = F.col("n") / F.col("t")
    return (
        long.join(F.broadcast(tot), "column_name")
        .groupBy("column_name", "t")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.round(F.max("n") / F.max("t"), 6).alias("top_freq_ratio"),
        )
        .drop("t")
        .orderBy("column_name")
    )


@register(
    "compaction_bin_packing",
    oracle="""
    WITH slices AS (
      SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS slice_id,
             CAST(count(*) * 100 AS BIGINT) AS bytes
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(ceil(sum(bytes) / 6.0) AS BIGINT) AS target FROM slices),
    planned AS (
      SELECT slice_id, bytes, target,
             CAST(coalesce(sum(bytes) OVER (ORDER BY slice_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_before
      FROM slices CROSS JOIN tot
    )
    SELECT CAST(cum_before // target AS INT) AS group_id,
           CAST(count(*) AS BIGINT) AS n_slices,
           CAST(min(slice_id) AS INT) AS first_slice,
           CAST(max(slice_id) AS INT) AS last_slice,
           CAST(sum(bytes) AS BIGINT) AS group_bytes
    FROM planned
    GROUP BY 1 ORDER BY 1
    """,
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planner: greedy sequential bin-packing of per-month
    data slices (byte size proxied at 100 B/row) into ~6 target-sized
    rewrite groups — the plan an Iceberg/Delta OPTIMIZE job executes.
    Keeping slices in ship-month order preserves time locality so the
    compacted files still prune on date predicates.

    The slice manifest is a tiny aggregate of one fact scan (map-side
    partials per month); the greedy assignment is an exclusive prefix
    sum over the MANIFEST (files-sized, not data-sized — ~84 rows
    here, file-count rows in production), so the single-partition
    window is safe at any data scale. group = floor(cum_before /
    target) reproduces greedy first-fit for sequential packing
    exactly, in one windowed expression instead of a driver loop."""
    li = load(spark, sf_dir).lineitem
    slices = (
        li.groupBy(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
            .cast("int")
            .alias("slice_id")
        )
        .agg((F.count(F.lit(1)) * 100).alias("bytes"))
    )
    tot = slices.agg(F.ceil(F.sum("bytes") / 6.0).alias("target"))
    w = W.orderBy("slice_id").rowsBetween(W.unboundedPreceding, -1)
    planned = slices.crossJoin(F.broadcast(tot)).withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    )
    return (
        planned.groupBy(
            F.floor(F.col("cum_before") / F.col("target")).cast("int").alias("group_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_slices"),
            F.min("slice_id").alias("first_slice"),
            F.max("slice_id").alias("last_slice"),
            F.sum("bytes").alias("group_bytes"),
        )
        .orderBy("group_id")
    )


@register(
    "js_divergence_sources",
    oracle="""
    WITH counts AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl
      FROM documents GROUP BY 1, 2
    ),
    srcs AS (SELECT source, CAST(sum(n_sl) AS BIGINT) AS n_s FROM counts GROUP BY source),
    langs AS (SELECT lang, CAST(sum(n_sl) AS BIGINT) AS n_l FROM counts GROUP BY lang),
    tot AS (SELECT CAST(sum(n_sl) AS BIGINT) AS n_tot FROM counts),
    dense AS (
      SELECT s.source, l.lang, s.n_s,
             coalesce(c.n_sl, 0) * 1.0 / s.n_s AS p,
             l.n_l * 1.0 / t.n_tot AS q
      FROM srcs s CROSS JOIN langs l CROSS JOIN tot t
      LEFT JOIN counts c ON c.source = s.source AND c.lang = l.lang
    ),
    terms AS (
      SELECT source, n_s,
             (CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0.0 END
              + 0.5 * q * ln(q / ((p + q) / 2))) AS term
      FROM dense
    )
    SELECT source, max(n_s) AS n_docs,
           round(sum(term), 6) AS js_divergence_nats
    FROM terms GROUP BY source ORDER BY source
    """,
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's language mix from the
    corpus-wide mix — the bounded, symmetric distribution-distance a
    mixture curator uses to find off-profile sources (0 = identical,
    ln 2 = disjoint); the cross-source sibling of the two-era PSI in
    dq_distribution_drift.

    One corpus scan collapses to the (source, lang) cell table; source
    and language marginals are regroups of it, and the DENSE
    source×lang grid (built from the tiny marginal tables, ~100 rows)
    restores the absent-language terms a sparse join would drop —
    p = 0 still contributes its 0.5·q·ln2 share. Probabilities are
    exact integer ratios; each JS sum is ≤5 O(1) doubles, so 6-decimal
    rounding is ulp-safe."""
    d = load(spark, sf_dir).documents
    counts = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_sl"))
        .localCheckpoint(eager=True)
    )
    srcs = counts.groupBy("source").agg(F.sum("n_sl").alias("n_s"))
    langs = counts.groupBy("lang").agg(F.sum("n_sl").alias("n_l"))
    tot = counts.agg(F.sum("n_sl").alias("n_tot"))
    dense = (
        srcs.crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(tot))
        .join(counts, ["source", "lang"], "left")
        .select(
            "source",
            "n_s",
            (F.coalesce(F.col("n_sl"), F.lit(0)) / F.col("n_s")).alias("p"),
            (F.col("n_l") / F.col("n_tot")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    term = (
        F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / m)).otherwise(0.0)
        + 0.5 * F.col("q") * F.log(F.col("q") / m)
    )
    return (
        dense.select("source", "n_s", term.alias("term"))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_docs"),
            F.round(F.sum("term"), 6).alias("js_divergence_nats"),
        )
        .orderBy("source")
    )


# (table, label, columns) triples profiled by candidate_key_profile.
# Composite keys are checked via an injective '|'-joined string of the
# member columns (all non-null in this schema), so both engines count
# the same composite domain.
_KEY_CANDIDATES: tuple[tuple[str, str, tuple[str, ...]], ...] = (
    ("orders", "o_orderkey", ("o_orderkey",)),
    ("orders", "o_custkey", ("o_custkey",)),
    ("orders", "o_custkey,o_orderdate", ("o_custkey", "o_orderdate")),
    ("lineitem", "l_orderkey", ("l_orderkey",)),
    ("lineitem", "l_orderkey,l_linenumber", ("l_orderkey", "l_linenumber")),
    ("lineitem", "l_partkey,l_suppkey", ("l_partkey", "l_suppkey")),
    ("customer", "c_custkey", ("c_custkey",)),
)


def _ck_oracle() -> str:
    per_table: dict[str, list[tuple[str, tuple[str, ...]]]] = {}
    for tbl, label, cols in _KEY_CANDIDATES:
        per_table.setdefault(tbl, []).append((label, cols))
    selects = []
    for tbl, combos in per_table.items():
        for label, cols in combos:
            key = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
            selects.append(f"""
    SELECT '{tbl}' AS table_name, '{label}' AS key_cols,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT {key}) AS BIGINT) AS n_distinct,
           round(count(DISTINCT {key}) * 1.0 / count(*), 6) AS uniqueness,
           CAST(count(DISTINCT {key}) = count(*) AS INT) AS is_unique_key
    FROM {tbl}""")
    return "\nUNION ALL\n".join(selects) + "\nORDER BY table_name, key_cols"


@register("candidate_key_profile", oracle=_ck_oracle())
def candidate_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery / uniqueness profiling: for each declared
    key candidate (single and composite), the distinct-to-total ratio
    and whether it is an exact unique key — the schema-inference pass a
    warehouse runs before declaring constraints or bucketing keys.

    Scale shape: ONE aggregation per table computes every candidate's
    exact distinct count in a single scan (Spark plans multiple
    count-distincts as one Expand + partial aggregation — no repeated
    reads), and the per-table single-row results union into the tiny
    profile table. Composite keys hash a '|'-joined injective encoding,
    identical in the oracle."""
    tabs = load(spark, sf_dir)
    per_table: dict[str, list[tuple[str, tuple[str, ...]]]] = {}
    for tbl, label, cols in _KEY_CANDIDATES:
        per_table.setdefault(tbl, []).append((label, cols))
    outs = []
    for tbl, combos in per_table.items():
        df = getattr(tabs, tbl)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, (label, cols) in enumerate(combos):
            key = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
            aggs.append(F.count_distinct(key).alias(f"__d{i}"))
        # one row per table; materialize so each combo's SELECT reads the
        # cached row instead of re-running the scan (plan audit: 7→3 scans)
        wide = df.agg(*aggs).localCheckpoint(eager=True)
        for i, (label, cols) in enumerate(combos):
            outs.append(
                wide.select(
                    F.lit(tbl).alias("table_name"),
                    F.lit(label).alias("key_cols"),
                    F.col("__n").alias("n_rows"),
                    F.col(f"__d{i}").alias("n_distinct"),
                    F.round(F.col(f"__d{i}") / F.col("__n"), 6).alias(
                        "uniqueness"
                    ),
                    (F.col(f"__d{i}") == F.col("__n"))
                    .cast("int")
                    .alias("is_unique_key"),
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("table_name", "key_cols")


@register(
    "partition_layout_advisor",
    oracle="""
    WITH expanded AS (
      SELECT 'o_orderpriority' AS candidate, o_orderpriority AS key_value
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL
      SELECT 'order_month', strftime(o_orderdate, '%Y-%m') FROM orders
    ),
    per_key AS (
      SELECT candidate, key_value, CAST(count(*) AS BIGINT) AS n_rows
      FROM expanded GROUP BY candidate, key_value
    )
    SELECT candidate,
           CAST(count(*) AS BIGINT) AS n_partitions,
           CAST(sum(n_rows) AS BIGINT) AS total_rows,
           CAST(min(n_rows) AS BIGINT) AS min_rows,
           CAST(max(n_rows) AS BIGINT) AS max_rows,
           round(max(n_rows) * 1.0 * count(*) / CAST(sum(n_rows) AS BIGINT), 6)
             AS skew_ratio
    FROM per_key
    GROUP BY candidate
    ORDER BY candidate
    """,
)
def partition_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout advisor for the orders table: for each candidate
    partition key (priority, status, order month) report partition
    count, row spread, and skew ratio (max partition vs perfectly even)
    — the numbers that decide a Hive-style PARTITIONED BY layout. Too
    few partitions (status: 3) under-parallelizes, too many tiny ones
    stress the metastore/small-files, and skew_ratio predicts straggler
    tasks.

    ONE scan of orders fans out through a 3-way stack (candidate,
    key_value) — the per-candidate groupings share the shuffle instead
    of re-scanning the fact table per candidate — then a candidate-count
    sized rollup. skew = max·k/total is a single exact-integer division."""
    o = load(spark, sf_dir).orders
    expanded = o.select(
        F.expr(
            "stack(3,"
            " 'o_orderpriority', o_orderpriority,"
            " 'o_orderstatus', o_orderstatus,"
            " 'order_month', date_format(o_orderdate, 'yyyy-MM')"
            ") AS (candidate, key_value)"
        )
    )
    per_key = expanded.groupBy("candidate", "key_value").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return (
        per_key.groupBy("candidate")
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.min("n_rows").alias("min_rows"),
            F.max("n_rows").alias("max_rows"),
            F.round(
                F.max("n_rows")
                * F.count(F.lit(1))
                / F.sum("n_rows").cast("long"),
                6,
            ).alias("skew_ratio"),
        )
        .orderBy("candidate")
    )


@register(
    "encoding_advisor",
    oracle="""
    WITH expanded AS (
      SELECT l_orderkey, l_linenumber,
             'l_returnflag' AS candidate, l_returnflag AS val
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_linestatus', l_linestatus FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_quantity',
             CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax',
             CAST(CAST(round(l_tax * 100, 0) AS BIGINT) AS VARCHAR)
      FROM lineitem
    ),
    runs AS (
      SELECT candidate, val,
             CASE WHEN lag(val) OVER (PARTITION BY candidate, l_orderkey
                                      ORDER BY l_linenumber, val)
                  IS DISTINCT FROM val THEN 1 ELSE 0 END AS new_run
      FROM expanded
    )
    SELECT candidate,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
           CAST(sum(new_run) AS BIGINT) AS n_runs,
           round(count(*) * 1.0 / sum(new_run), 6) AS avg_run_len,
           CASE WHEN count(*) >= 2 * sum(new_run) THEN 'RLE'
                WHEN count(DISTINCT val) <= 65536 THEN 'DICT'
                ELSE 'PLAIN' END AS recommended
    FROM runs
    GROUP BY candidate
    ORDER BY candidate
    """,
)
def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding advisor: for each candidate lineitem column,
    measure what the parquet/ORC writer would exploit — run structure
    (RLE), dictionary cardinality (DICT ≤ 2¹⁶ keys), else PLAIN — and
    recommend the encoding. Runs are counted within the table's natural
    (orderkey, linenumber) clustering, i.e. what a writer preserving
    ingest order would actually see; the RLE cut (mean run ≥ 2) is the
    exact integer test n_rows ≥ 2·n_runs.

    One lineitem scan fans through a 4-way stack so all candidates
    share one shuffle, partitioned (candidate, orderkey) for the
    run-boundary lag — per-order windows, never a global sort. The lag
    orders by (linenumber, val): the synthetic data reuses line numbers
    within an order, and ties that differ only in val are interchangeable
    for run counting once val joins the sort key. Numeric
    candidates stringify through exact integer casts (quantity is
    integral, tax is exact cents) so both engines compare identical
    dictionary keys."""
    li = load(spark, sf_dir).lineitem
    expanded = li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(4,"
        " 'l_returnflag', l_returnflag,"
        " 'l_linestatus', l_linestatus,"
        " 'l_quantity', CAST(CAST(l_quantity AS BIGINT) AS STRING),"
        " 'l_tax', CAST(CAST(round(l_tax * 100, 0) AS BIGINT) AS STRING)"
        ") AS (candidate, val)",
    )
    w = W.partitionBy("candidate", "l_orderkey").orderBy("l_linenumber", "val")
    runs = expanded.select(
        "candidate",
        "val",
        F.when(F.lag("val").over(w).eqNullSafe(F.col("val")), 0)
        .otherwise(1)
        .alias("new_run"),
    )
    return (
        runs.groupBy("candidate")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("val").alias("n_distinct"),
            F.sum("new_run").cast("long").alias("n_runs"),
            F.round(
                F.count(F.lit(1)) * 1.0 / F.sum("new_run").cast("long"), 6
            ).alias("avg_run_len"),
            F.when(
                F.count(F.lit(1)) >= 2 * F.sum("new_run").cast("long"), "RLE"
            )
            .when(F.countDistinct("val") <= 65536, "DICT")
            .otherwise("PLAIN")
            .alias("recommended"),
        )
        .orderBy("candidate")
    )


@register(
    "dq_freshness_audit",
    oracle="""
    WITH marks AS (
      SELECT 'orders' AS tbl, max(o_orderdate) AS latest,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders
      UNION ALL
      SELECT 'lineitem.ship', max(l_shipdate), CAST(count(*) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'events', max(ts), CAST(count(*) AS BIGINT) FROM events
    ),
    anchor AS (SELECT max(latest) AS global_latest FROM marks)
    SELECT m.tbl,
           strftime(m.latest, '%Y-%m-%d %H:%M:%S') AS latest_ts,
           CAST(date_diff('day', m.latest, a.global_latest) AS BIGINT)
             AS staleness_days,
           m.n_rows,
           CASE WHEN date_diff('day', m.latest, a.global_latest) > 35
                THEN 'STALE' ELSE 'FRESH' END AS verdict
    FROM marks m CROSS JOIN anchor a
    ORDER BY m.tbl
    """,
)
def dq_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness — the data-quality dimension the dq_* family didn't
    yet measure (completeness, validity, uniqueness, consistency are
    covered): each time-bearing table's latest watermark, its staleness
    in days against the freshest table in the warehouse, and a
    FRESH/STALE verdict at a 35-day SLA. A pipeline whose orders stop
    advancing while events keep flowing fails HERE before any value
    check can notice.

    One max+count aggregate per table (map-side partials, no shuffle
    beyond the 1-row finals) unioned into a 3-row report against the
    broadcast global anchor. Timestamps emit as formatted strings per
    the canon; the synthetic tables' epochs differ by design, which is
    exactly what the verdict column surfaces."""
    t = load(spark, sf_dir)
    marks = (
        t.orders.agg(
            F.lit("orders").alias("tbl"),
            F.max("o_orderdate").alias("latest"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .unionAll(
            t.lineitem.agg(
                F.lit("lineitem.ship").alias("tbl"),
                F.max("l_shipdate").alias("latest"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        .unionAll(
            t.events.agg(
                F.lit("events").alias("tbl"),
                F.max("ts").alias("latest"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        .localCheckpoint(eager=True)
    )
    anchor = marks.agg(F.max("latest").alias("global_latest"))
    stale = F.datediff(
        F.col("global_latest").cast("date"), F.col("latest").cast("date")
    ).cast("long")
    return (
        marks.crossJoin(F.broadcast(anchor))
        .select(
            "tbl",
            F.date_format("latest", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
            stale.alias("staleness_days"),
            "n_rows",
            F.when(stale > 35, "STALE").otherwise("FRESH").alias("verdict"),
        )
        .orderBy("tbl")
    )


@register(
    "duplicate_payment_scan",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             CAST(date_diff('day', DATE '1990-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS d
      FROM orders
    ),
    probe AS (
      SELECT o_orderkey, o_custkey, cents, d,
             unnest([d - 1, d, d + 1]) AS bucket
      FROM o
    ),
    pairs AS (
      SELECT DISTINCT a.o_orderkey AS ok_a, b.o_orderkey AS ok_b,
             a.o_custkey AS custkey
      FROM probe a JOIN o b
        ON b.o_custkey = a.o_custkey AND b.cents = a.cents
       AND b.d = a.bucket AND a.o_orderkey < b.o_orderkey
      WHERE abs(a.d - b.d) <= 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_suspect_pairs,
           CAST(count(DISTINCT custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT ok_a) + count(DISTINCT ok_b) AS BIGINT)
             AS n_orders_flagged_ub
    FROM pairs
    """,
)
def duplicate_payment_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection — the payments-ops fraud/defect
    scan: two orders by the SAME customer for the EXACT same amount
    within ±1 day are suspect double-charges. The pair search is a
    (customer, cents, day-bucket) equi-join with the ±1-day tolerance
    handled by exploding each probe row into its 3 adjacent day
    buckets (range_join_bucketized's trick) — never an unbounded
    range join; amounts compare as exact cents.

    The summary stays bounded (pair count, distinct customers, an
    order upper bound); production would emit the pair table itself.
    At 100 TB the join keys (cust, cents, day) are highly selective —
    the shuffle matches near-duplicates only."""
    o = load(spark, sf_dir).orders.select(
        "o_orderkey",
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("long")
        .alias("d"),
    ).localCheckpoint(eager=True)
    probe = o.select(
        "o_orderkey",
        "o_custkey",
        "cents",
        "d",
        F.explode(
            F.array(F.col("d") - 1, F.col("d"), F.col("d") + 1)
        ).alias("bucket"),
    )
    b = o.select(
        F.col("o_orderkey").alias("ok_b"),
        F.col("o_custkey").alias("ck_b"),
        F.col("cents").alias("cents_b"),
        F.col("d").alias("d_b"),
    )
    pairs = (
        probe.join(
            b,
            (F.col("ck_b") == F.col("o_custkey"))
            & (F.col("cents_b") == F.col("cents"))
            & (F.col("d_b") == F.col("bucket"))
            & (F.col("o_orderkey") < F.col("ok_b")),
        )
        .filter(F.abs(F.col("d") - F.col("d_b")) <= 1)
        .select(
            F.col("o_orderkey").alias("ok_a"),
            "ok_b",
            F.col("o_custkey").alias("custkey"),
        )
        .distinct()
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_suspect_pairs"),
        F.countDistinct("custkey").alias("n_customers"),
        (F.countDistinct("ok_a") + F.countDistinct("ok_b"))
        .cast("long")
        .alias("n_orders_flagged_ub"),
    )


RETENTION_DAYS = 14


@register(
    "retention_ttl_manifest",
    oracle=f"""
    WITH mx AS (SELECT max(ts) AS mt FROM events),
    flagged AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             ts < mt - INTERVAL {RETENTION_DAYS} DAY AS expired
      FROM events, mx
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT)
             AS n_expired
    FROM flagged GROUP BY day ORDER BY day
    """,
)
def retention_ttl_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/TTL sweep manifest: per event-day, how many rows fall
    outside the {RETENTION_DAYS}-day retention horizon (anchored to the
    table's own max event time, so the audit is reproducible on static
    testdata) — the deletion plan a GDPR/TTL job executes, grouped by
    the partition key it would drop. Complements ``gdpr_erasure_audit``
    (id-addressed deletes) with the time-addressed class, where the
    scalable delete is dropping whole day partitions, never row-level
    scans. One scan + one hash-agg; the max-ts anchor is a 1-row
    broadcast."""
    e = load(spark, sf_dir).events
    mx = e.agg(F.max("ts").alias("mt"))
    return (
        e.crossJoin(F.broadcast(mx))
        .select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            (
                F.col("ts") < F.col("mt") - F.expr(f"INTERVAL {RETENTION_DAYS} DAYS")
            ).alias("expired"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("expired"), 1).otherwise(0))
            .cast("long")
            .alias("n_expired"),
        )
        .orderBy("day")
    )


ZORDER_BITS = 8          # per-dimension resolution (256 buckets)
ZORDER_FILES = 64        # simulated file count for the layout audit


def _zorder_interleave_sql(xcol: str, ycol: str, bits: int = ZORDER_BITS) -> str:
    """Bit-interleave expression (x in odd positions, y in even) —
    IDENTICAL text for Spark SQL and DuckDB: both support >> << & and
    the terms occupy disjoint bits, so the sum is the OR."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


@register(
    "zorder_layout_audit",
    oracle=f"""
    WITH s AS (
      SELECT min(o_custkey) AS mnx, max(o_custkey) AS mxx,
             min(o_orderkey) AS mny, max(o_orderkey) AS mxy
      FROM orders
    ),
    b AS (
      SELECT o_orderkey,
             CAST(floor((o_custkey - mnx) * {1 << ZORDER_BITS}.0
                        / (mxx - mnx + 1)) AS BIGINT) AS axb,
             CAST(floor((o_orderkey - mny) * {1 << ZORDER_BITS}.0
                        / (mxy - mny + 1)) AS BIGINT) AS ayb
      FROM orders CROSS JOIN s
    ),
    z AS (
      SELECT o_orderkey, axb, ayb,
             {_zorder_interleave_sql('axb', 'ayb')} AS zval
      FROM b
    ),
    f AS (
      SELECT 'zorder' AS layout,
             ntile({ZORDER_FILES}) OVER (ORDER BY zval, o_orderkey) AS file_id,
             axb, ayb
      FROM z
      UNION ALL
      SELECT 'xsort' AS layout,
             ntile({ZORDER_FILES}) OVER (ORDER BY axb, o_orderkey) AS file_id,
             axb, ayb
      FROM z
    ),
    pf AS (
      SELECT layout, file_id,
             (max(axb) - min(axb) + 1) / {1 << ZORDER_BITS}.0 AS sx,
             (max(ayb) - min(ayb) + 1) / {1 << ZORDER_BITS}.0 AS sy
      FROM f GROUP BY 1, 2
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           round(avg(sx), 6) AS avg_span_frac_custkey,
           round(avg(sy), 6) AS avg_span_frac_orderkey
    FROM pf GROUP BY layout ORDER BY layout
    """,
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout audit: does interleaving the bits
    of two filter columns give BALANCED file-level data skipping on
    both, where a single-key sort prunes one column perfectly and the
    other not at all? Buckets o_custkey and o_orderkey to {ZORDER_BITS}
    bits, interleaves them into a z-value, splits each candidate layout
    into {ZORDER_FILES} equal "files" (SQL-ntile semantics over the
    layout's sort key, computed DISTRIBUTED via the two-phase bucketed
    prefix sum + exact ntile reconstruction in operators/ranking.py —
    no single-partition window), and reports the average fraction of
    each column's domain a
    file spans — exactly the min/max zone-map width a reader would
    consult (zone_map_manifest is the manifest this audit sizes;
    sinks.write_zordered realizes the z-order layout and
    write_sorted_for_skipping the single-key one).

    Exact-oracle-checked with measured VALUES, not property pins: the
    bucket math is one float multiply/divide + floor (IEEE-identical
    per engine), the interleave is integer bit ops from the SAME
    generated expression text, ntile orders by (sort key, o_orderkey)
    — a total order — and every span fraction is a dyadic rational
    (multiples of 2^-{ZORDER_BITS}), so the {ZORDER_FILES}-term
    average is EXACT in both engines regardless of accumulation order.

    Scale shape: the audit is decision support — run it on a sample or
    one partition of the 100 TB table (the span statistics converge
    fast) — but nothing in it is single-task even at full size: the
    ntile ranks come from partition-parallel bucket windows, the span
    aggregate is map-side-combinable, and the final table is
    2×{ZORDER_FILES} rows. The production write path is
    repartitionByRange(zval) + sortWithinPartitions
    (sinks.write_zordered), one range shuffle like any sorted write."""
    o = load(spark, sf_dir).orders.select("o_orderkey", "o_custkey")
    stats = o.agg(
        F.min("o_custkey").alias("mnx"),
        F.max("o_custkey").alias("mxx"),
        F.min("o_orderkey").alias("mny"),
        F.max("o_orderkey").alias("mxy"),
    )
    scale = float(1 << ZORDER_BITS)
    b = o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        F.floor(
            (F.col("o_custkey") - F.col("mnx")) * scale
            / (F.col("mxx") - F.col("mnx") + 1)
        ).alias("axb"),
        F.floor(
            (F.col("o_orderkey") - F.col("mny")) * scale
            / (F.col("mxy") - F.col("mny") + 1)
        ).alias("ayb"),
    )
    z = b.withColumn("zval", F.expr(_zorder_interleave_sql("axb", "ayb")))
    # distributed ntile: two-phase bucketed prefix sum + the exact
    # SQL-ntile reconstruction (operators/ranking.py) — the oracle runs
    # REAL ntile, so the hash match proves the distributed form equal.
    # Equal-width buckets over the (uniform-ish) key domains keep
    # phase-1 windows balanced where the default log2 would put half
    # the rows in one bucket.
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
        ntile_from_rank,
    )

    n = z.agg(F.count(F.lit(1)).alias("n_pop"))
    layouts = []
    for name, key, domain in (
        ("zorder", "zval", 1 << (2 * ZORDER_BITS)),
        ("xsort", "axb", 1 << ZORDER_BITS),
    ):
        ranked = global_order_stats(
            z,
            key,
            "o_orderkey",
            ascending=True,
            bucket_expr=F.floor(
                F.col(key).cast("double") * ZORDER_FILES / float(domain)
            ),
        )
        layouts.append(
            ranked.crossJoin(F.broadcast(n)).select(
                F.lit(name).alias("layout"),
                ntile_from_rank(
                    F.col("global_rank"), F.col("n_pop"), ZORDER_FILES
                ).alias("file_id"),
                "axb",
                "ayb",
            )
        )
    f = layouts[0].unionByName(layouts[1])
    pf = f.groupBy("layout", "file_id").agg(
        ((F.max("axb") - F.min("axb") + 1) / scale).alias("sx"),
        ((F.max("ayb") - F.min("ayb") + 1) / scale).alias("sy"),
    )
    return (
        pf.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.round(F.avg("sx"), 6).alias("avg_span_frac_custkey"),
            F.round(F.avg("sy"), 6).alias("avg_span_frac_orderkey"),
        )
        .orderBy("layout")
    )


@register(
    "mutual_information_lang_source",
    oracle="""
    WITH counts AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl
      FROM documents GROUP BY 1, 2
    ),
    srcs AS (SELECT source, CAST(sum(n_sl) AS BIGINT) AS n_s
             FROM counts GROUP BY source),
    langs AS (SELECT lang, CAST(sum(n_sl) AS BIGINT) AS n_l
              FROM counts GROUP BY lang),
    tot AS (SELECT CAST(sum(n_sl) AS BIGINT) AS n FROM counts),
    mi_terms AS (
      SELECT CAST(floor(
               (c.n_sl / CAST(t.n AS DOUBLE))
               * ln((CAST(t.n AS DOUBLE) * c.n_sl)
                    / (CAST(s.n_s AS DOUBLE) * l.n_l))
               * 1000000 + 1e-3) AS BIGINT) AS term_micro
      FROM counts c
      JOIN srcs s ON s.source = c.source
      JOIN langs l ON l.lang = c.lang
      CROSS JOIN tot t
    ),
    hs AS (
      SELECT CAST(sum(CAST(floor(
               (n_s / CAST(t.n AS DOUBLE))
               * ln(CAST(t.n AS DOUBLE) / n_s) * 1000000 + 1e-3)
             AS BIGINT)) AS BIGINT) AS h_source_micro
      FROM srcs CROSS JOIN tot t
    ),
    hl AS (
      SELECT CAST(sum(CAST(floor(
               (n_l / CAST(t.n AS DOUBLE))
               * ln(CAST(t.n AS DOUBLE) / n_l) * 1000000 + 1e-3)
             AS BIGINT)) AS BIGINT) AS h_lang_micro
      FROM langs CROSS JOIN tot t
    ),
    mi AS (
      SELECT CAST(sum(term_micro) AS BIGINT) AS mi_micro,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM mi_terms
    )
    SELECT t.n AS n_docs, mi.n_cells,
           round(mi.mi_micro / 1000000.0, 6) AS mi_nats,
           round(hl.h_lang_micro / 1000000.0, 6) AS h_lang_nats,
           round(hs.h_source_micro / 1000000.0, 6) AS h_source_nats,
           round(mi.mi_micro
                 / CAST(least(hl.h_lang_micro, hs.h_source_micro) AS DOUBLE),
                 6) AS normalized_mi
    FROM mi CROSS JOIN hl CROSS JOIN hs CROSS JOIN tot t
    """,
)
def mutual_information_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between the lang and source columns (plus
    both marginal entropies and min-normalized MI) — the
    dependence-strength companion to chi2_feature_association: how many
    nats knowing the source tells you about the language, the screen a
    mixture curator runs before stratifying one column by the other.

    Engine-portability discipline (the dsir/dp fixed-point pattern):
    every probability is an exact integer ratio from ONE corpus scan's
    (source, lang) cell table; each MI/entropy term has exactly one
    ln() of a deterministic double, is floored to 1e-6 fixed point with
    the +1e-3 nudge on BOTH engines, and the cross-cell sums are exact
    BIGINT adds — order-free, unlike a double sum over 100 cells whose
    accumulation order neither engine pins. Cell/marginal tables are
    bounded (|sources| x |langs|), so everything after the first
    aggregate is a broadcast-sized program."""
    d = load(spark, sf_dir).documents
    counts = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_sl"))
        .localCheckpoint(eager=True)
    )
    srcs = counts.groupBy("source").agg(F.sum("n_sl").cast("long").alias("n_s"))
    langs = counts.groupBy("lang").agg(F.sum("n_sl").cast("long").alias("n_l"))
    tot = counts.agg(F.sum("n_sl").cast("long").alias("n"))
    nd = F.col("n").cast("double")

    def _micro(expr):
        return F.floor(expr * 1_000_000 + 1e-3).cast("bigint")

    mi_term = _micro(
        (F.col("n_sl") / nd)
        * F.log((nd * F.col("n_sl")) / (F.col("n_s").cast("double") * F.col("n_l")))
    )
    mi = (
        counts.join(srcs, "source")
        .join(F.broadcast(langs), "lang")
        .crossJoin(F.broadcast(tot))
        .select(mi_term.alias("term_micro"))
        .agg(
            F.sum("term_micro").cast("long").alias("mi_micro"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
        )
    )
    hs = (
        srcs.crossJoin(F.broadcast(tot))
        .select(_micro((F.col("n_s") / nd) * F.log(nd / F.col("n_s"))).alias("t"))
        .agg(F.sum("t").cast("long").alias("h_source_micro"))
    )
    hl = (
        langs.crossJoin(F.broadcast(tot))
        .select(_micro((F.col("n_l") / nd) * F.log(nd / F.col("n_l"))).alias("t"))
        .agg(F.sum("t").cast("long").alias("h_lang_micro"))
    )
    return (
        mi.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_docs"),
            "n_cells",
            F.round(F.col("mi_micro") / 1_000_000.0, 6).alias("mi_nats"),
            F.round(F.col("h_lang_micro") / 1_000_000.0, 6).alias("h_lang_nats"),
            F.round(F.col("h_source_micro") / 1_000_000.0, 6).alias("h_source_nats"),
            F.round(
                F.col("mi_micro")
                / F.least("h_lang_micro", "h_source_micro").cast("double"),
                6,
            ).alias("normalized_mi"),
        )
    )


# Candidate functional dependencies audited: (table, lhs, rhs). Mix of
# true-by-construction (TPC-H p_brand determines p_mfgr: brand =
# 'Brand#' || mfgr-digit || digit) and expected-to-fail dependencies,
# so the audit demonstrates both verdicts.
_FD_CANDIDATES: tuple[tuple[str, str, str], ...] = (
    ("nation", "n_name", "n_regionkey"),      # holds: n_name is a key
    ("part", "p_name", "p_brand"),            # holds iff p_name unique
    ("part", "p_brand", "p_type"),            # expected to fail
    ("customer", "c_nationkey", "c_mktsegment"),  # expected to fail
    ("orders", "o_custkey", "o_orderpriority"),   # expected to fail
)


def _fd_sql(table: str, lhs: str, rhs: str) -> str:
    return f"""
      SELECT '{table}' AS table_name, '{lhs}' AS lhs, '{rhs}' AS rhs,
             CAST(count(*) AS BIGINT) AS n_lhs_groups,
             CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(max(n_rhs) AS BIGINT) AS max_rhs_card,
             CASE WHEN max(n_rhs) = 1 THEN 1 ELSE 0 END AS holds
      FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS n_rhs
            FROM {table} GROUP BY {lhs})"""


@register(
    "functional_dependency_audit",
    oracle="SELECT * FROM ("
    + " UNION ALL ".join(_fd_sql(t, l, r) for t, l, r in _FD_CANDIDATES)
    + ") ORDER BY table_name, lhs, rhs",
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency verification over declared candidate FDs
    (lhs → rhs): per candidate, the lhs-group count, how many groups
    see more than one rhs value (violations), the worst rhs
    cardinality, and a holds bit — the profiling step behind
    normalization decisions, dimension conformance checks, and
    candidate_key_profile's single-column cousin (an FD with a
    key lhs is a key constraint). n_name → n_regionkey holds because
    n_name is a key (test-pinned); the deliberately-false candidates
    exercise the violation accounting.

    One pass per candidate: groupBy(lhs).agg(countDistinct(rhs)) then a
    1-row rollup — the same distinct-agg shuffle a key-uniqueness check
    costs; the union output is bounded by the candidate list. Exact
    integer counts only."""
    t = load(spark, sf_dir)
    outs = []
    for table, lhs, rhs in _FD_CANDIDATES:
        df = getattr(t, table)
        grp = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("n_rhs"))
        outs.append(
            grp.agg(
                F.count(F.lit(1)).cast("long").alias("n_lhs_groups"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating"),
                F.max("n_rhs").cast("long").alias("max_rhs_card"),
                F.when(F.max("n_rhs") == 1, 1).otherwise(0).alias("holds"),
            ).select(
                F.lit(table).alias("table_name"),
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                "n_lhs_groups",
                "n_violating",
                "max_rhs_card",
                "holds",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("table_name", "lhs", "rhs")


@register(
    "cramers_v_lang_source",
    oracle="""
    WITH counts AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl
      FROM documents GROUP BY 1, 2
    ),
    srcs AS (SELECT source, CAST(sum(n_sl) AS BIGINT) AS n_s
             FROM counts GROUP BY source),
    langs AS (SELECT lang, CAST(sum(n_sl) AS BIGINT) AS n_l
              FROM counts GROUP BY lang),
    tot AS (SELECT CAST(sum(n_sl) AS BIGINT) AS n,
                   CAST(count(DISTINCT source) AS BIGINT) AS r,
                   CAST(count(DISTINCT lang) AS BIGINT) AS k
            FROM counts),
    dense AS (
      SELECT s.source, l.lang, s.n_s, l.n_l, t.n,
             coalesce(c.n_sl, 0) AS o
      FROM srcs s CROSS JOIN langs l CROSS JOIN tot t
      LEFT JOIN counts c ON c.source = s.source AND c.lang = l.lang
    ),
    terms AS (
      SELECT CAST(floor(
               (o - CAST(n_s AS DOUBLE) * n_l / n)
               * (o - CAST(n_s AS DOUBLE) * n_l / n)
               / (CAST(n_s AS DOUBLE) * n_l / n)
               * 1000000 + 1e-3) AS BIGINT) AS t_micro
      FROM dense
    ),
    chi AS (SELECT CAST(sum(t_micro) AS BIGINT) AS chi2_micro,
                   CAST(count(*) AS BIGINT) AS n_cells
            FROM terms)
    SELECT t.n AS n_docs, c.n_cells,
           round(c.chi2_micro / 1000000.0, 6) AS chi2,
           CAST((t.r - 1) * (t.k - 1) AS BIGINT) AS dof,
           round(sqrt(c.chi2_micro / 1000000.0
                      / (t.n * least(t.r - 1, t.k - 1))), 6) AS cramers_v
    FROM chi c CROSS JOIN tot t
    """,
)
def cramers_v_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between lang and source — the [0,1]-normalized
    chi-square association strength that pairs with
    mutual_information_lang_source (information-theoretic) and
    chi2_feature_association (per-cell view): V = sqrt(χ²/(N·min(r−1,
    k−1))), comparable across tables of different shapes.

    Same fixed-point discipline as the MI query: expected counts are
    deterministic doubles from exact marginal integers, each (O−E)²/E
    term floors to 1e-6 micro units, and the χ² sum over the dense
    r×k grid is an exact BIGINT add; V is one sqrt at the end. One
    corpus scan, bounded-grid algebra after."""
    d = load(spark, sf_dir).documents
    counts = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sl"))
        .localCheckpoint(eager=True)
    )
    srcs = counts.groupBy("source").agg(F.sum("n_sl").cast("long").alias("n_s"))
    langs = counts.groupBy("lang").agg(F.sum("n_sl").cast("long").alias("n_l"))
    tot = counts.agg(
        F.sum("n_sl").cast("long").alias("n"),
        F.countDistinct("source").cast("long").alias("r"),
        F.countDistinct("lang").cast("long").alias("k"),
    )
    dense = (
        srcs.crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(tot))
        .join(counts, ["source", "lang"], "left")
        .select(
            "n_s",
            "n_l",
            "n",
            "r",
            "k",
            F.coalesce(F.col("n_sl"), F.lit(0)).alias("o"),
        )
    )
    e = F.col("n_s").cast("double") * F.col("n_l") / F.col("n")
    t_micro = F.floor(
        (F.col("o") - e) * (F.col("o") - e) / e * 1_000_000 + 1e-3
    ).cast("bigint")
    chi = dense.select(
        t_micro.alias("t_micro"), "n", "r", "k"
    ).groupBy("n", "r", "k").agg(
        F.sum("t_micro").cast("long").alias("chi2_micro"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    return chi.select(
        F.col("n").alias("n_docs"),
        "n_cells",
        F.round(F.col("chi2_micro") / 1_000_000.0, 6).alias("chi2"),
        ((F.col("r") - 1) * (F.col("k") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2_micro")
                / 1_000_000.0
                / (F.col("n") * F.least(F.col("r") - 1, F.col("k") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "join_cardinality_advisor",
    oracle="""
    WITH per_key AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    ),
    stats AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS ndv_keys,
             CAST(max(cnt) AS BIGINT) AS max_key_multiplicity,
             CAST(sum(cnt * cnt) AS BIGINT) AS predicted_join_rows
      FROM per_key
    ),
    actual AS (
      SELECT CAST(count(*) AS BIGINT) AS actual_join_rows
      FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
    )
    SELECT n_rows, ndv_keys, max_key_multiplicity, predicted_join_rows,
           actual_join_rows,
           round(n_rows * 1.0 * n_rows / ndv_keys, 2) AS uniform_est_rows,
           round(predicted_join_rows
                 / (n_rows * 1.0 * n_rows / ndv_keys), 6) AS skew_ratio
    FROM stats CROSS JOIN actual
    """,
)
def join_cardinality_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation advisor for the part-key self-join (the
    'co-ordered parts' shape): the exact output cardinality of an
    equi-join is sum_k cnt_a(k)*cnt_b(k), computable from per-key
    COUNT summaries WITHOUT running the join — here sum(cnt^2) from
    one vocab-bounded hash agg — versus the uniform-assumption
    estimate |R|^2/ndv a naive optimizer would use; skew_ratio =
    predicted/uniform is exactly 1 + CV^2 of the key multiplicities,
    the factor by which key skew inflates a real join beyond the
    textbook estimate (System R's selectivity model).

    The materialized actual_join_rows count exists at test SF purely
    to PROVE the per-key formula (predicted == actual, hash-checked);
    the production advisor runs only the counts path — the whole
    point is deciding broadcast/salting BEFORE paying for the join.

    Scale shape: one fact scan -> per-key hash agg (key-cardinality
    bounded) -> 1-row rollup; the proof join is count-only (no
    payload columns survive pruning)."""
    li = load(spark, sf_dir).lineitem
    per_key = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    stats = per_key.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("ndv_keys"),
        F.max("cnt").cast("long").alias("max_key_multiplicity"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("predicted_join_rows"),
    )
    a = li.select(F.col("l_partkey").alias("k"))
    actual = (
        a.join(li.select(F.col("l_partkey").alias("k")), "k")
        .agg(F.count(F.lit(1)).cast("long").alias("actual_join_rows"))
    )
    uniform = F.col("n_rows") * 1.0 * F.col("n_rows") / F.col("ndv_keys")
    return stats.crossJoin(F.broadcast(actual)).select(
        "n_rows",
        "ndv_keys",
        "max_key_multiplicity",
        "predicted_join_rows",
        "actual_join_rows",
        F.round(uniform, 2).alias("uniform_est_rows"),
        F.round(F.col("predicted_join_rows") / uniform, 6).alias("skew_ratio"),
    )


# Fellegi-Sunter probabilistic record linkage. m-probabilities are the
# standard clerical priors (no labeled duplicates exist in TPC-H);
# u-probabilities are estimated EXACTLY from the data via the random-
# agreement identity u_k = sum_v n_v(n_v-1) / N(N-1).
FS_FIELDS = (
    # (name, m_probability): comparison vector gamma per blocked pair.
    # The synthetic customer table carries (custkey, name, nationkey,
    # acctbal, mktsegment); the four comparison transforms below play
    # the role of the phone/address/zip fields of a real CRM linkage —
    # the algebra is field-agnostic.
    ("bal", 0.90),   # floor(c_acctbal / 1000) bucket (~11 values)
    ("pen", 0.95),   # acctbal pennies, abs(cents) % 100  (100 values)
    ("tail", 0.85),  # last 3 digits of c_name            (1000 values)
    ("mid", 0.80),   # digits 5-6 of the c_name id        (100 values)
)
_FS_EXPRS = {
    "bal": "CAST(floor(c_acctbal / 1000.0) AS BIGINT)",
    "pen": "abs(CAST(round(c_acctbal * 100, 0) AS BIGINT)) % 100",
    "tail": "substring(c_name, 16, 3)",
    "mid": "substring(c_name, 14, 2)",
}
# log2 weights in 1e-6 fixed point, one ln per (field, side) on the
# 4-row model table; u clamped to >= 1/(N(N-1)) so an all-unique field
# at tiny SF cannot produce an infinite agreement weight
_FS_W = (
    "CAST(floor(ln({num} / {den}) / ln(2.0) * 1000000 + 0.001)"
    " AS BIGINT)"
)


def _fs_weight_sql(m: float, u_num: str, u_den: str) -> tuple[str, str]:
    agree = _FS_W.format(
        num=f"({m} * {u_den})", den=f"greatest({u_num}, 1.0)"
    )
    # den - num clamped too: a CONSTANT field at tiny SF (num = den)
    # has no disagreeing pair, so its (unused) disagreement weight just
    # needs to be finite, not meaningful
    disagree = _FS_W.format(
        num=f"({1 - m:.2f} * {u_den})",
        den=f"greatest({u_den} - greatest({u_num}, 1.0), 1.0)",
    )
    return agree, disagree


def _fs_oracle() -> str:
    field_cols = ",\n             ".join(
        f"{_FS_EXPRS[f]} AS {f}" for f, _m in FS_FIELDS
    )
    u_aggs = ",\n      ".join(
        f"(SELECT CAST(sum(c * (c - 1)) AS DOUBLE) FROM "
        f"(SELECT count(*) AS c FROM recs GROUP BY {f}) t_{f}) AS num_{f}"
        for f, _m in FS_FIELDS
    )
    w_cols = []
    for f, m in FS_FIELDS:
        a, d = _fs_weight_sql(m, f"num_{f}", "den")
        w_cols.append(f"{a} AS a_{f}, {d} AS d_{f}")
    score = " + ".join(
        f"(CASE WHEN x.{f} = y.{f} THEN w.a_{f} ELSE w.d_{f} END)"
        for f, _m in FS_FIELDS
    )
    return f"""
    WITH recs AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             {field_cols}
      FROM customer
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM recs),
    u AS (
      SELECT nn * (nn - 1) AS den,
      {u_aggs}
      FROM n
    ),
    w AS (SELECT den, {', '.join(w_cols)} FROM u),
    pairs AS (
      -- multi-key blocking, two disjoint passes: pass 1 blocks on
      -- (nation, segment, bal); pass 2 on (nation, segment, mid)
      -- restricted to bal-DISAGREEING pairs so no pair is scored twice
      SELECT ({score}) AS total_micro
      FROM recs x JOIN recs y
        ON x.c_nationkey = y.c_nationkey
       AND x.c_mktsegment = y.c_mktsegment
       AND x.bal = y.bal
       AND x.c_custkey < y.c_custkey
      CROSS JOIN w
      UNION ALL
      SELECT ({score}) AS total_micro
      FROM recs x JOIN recs y
        ON x.c_nationkey = y.c_nationkey
       AND x.c_mktsegment = y.c_mktsegment
       AND x.mid = y.mid
       AND x.bal <> y.bal
       AND x.c_custkey < y.c_custkey
      CROSS JOIN w
    )
    SELECT CAST(floor(total_micro / 2000000.0) AS BIGINT) AS weight_band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(min(total_micro) / 1000000.0, 6) AS min_weight,
           round(max(total_micro) / 1000000.0, 6) AS max_weight
    FROM pairs
    GROUP BY 1 ORDER BY 1
    """


@register("fellegi_sunter_linkage", oracle=_fs_oracle())
def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter 1969; the Splink
    /census-linkage workhorse): blocked candidate pairs of customer
    records are scored by the sum of per-field log2(m/u) agreement /
    log2((1-m)/(1-u)) disagreement weights, the log-likelihood ratio
    that drives the match/possible/non-match decision bands. m-
    probabilities are clerical priors (TPC-H has no labeled dupes);
    u-probabilities are estimated EXACTLY from the data by the random-
    agreement identity u_k = sum_v n_v(n_v-1)/(N(N-1)) — the standard
    u-estimation that needs no training pairs. Output: the pair-count
    histogram over 2-log2-unit weight bands with each band's exact
    weight range — the reviewer-facing artifact that sets the two
    clerical thresholds.

    Determinism: the 8 weights are computed ONCE on a 4-row model
    table, each behind the floor(x*1e6+1e-3) micro guard (one ln per
    field-side), so every pair score is a sum of 4 identical BIGINTs
    picked by exact equality bits; band floors and counts are then
    exact. u is clamped to >= 1/(N(N-1)) so an all-unique field at
    tiny SF cannot yield an infinite agreement weight.

    Scale (r12, VERDICT r11 #6 — multi-key blocking): candidate pairs
    come from TWO disjoint blocking passes, Splink-style — pass 1
    blocks on (nation, segment, bal-bucket), pass 2 on (nation,
    segment, mid-digits) restricted to bal-DISAGREEING pairs, so the
    passes partition the candidate set with no dedup shuffle. Each
    pass's blocks are ~1-2 orders of magnitude smaller than the old
    single (nation, segment) key, so pair volume grows with
    sum-of-small-block² instead of coarse-block² — the control that
    holds when the customer table is 1000× bigger; more passes slot
    in the same way (each new key ANDed with disagreement on all
    earlier keys). u-estimation is one groupBy per field feeding a
    broadcast-sized model row; pair scoring is codegen CASE sums."""
    c = load(spark, sf_dir).customer
    recs = c.selectExpr(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        *[f"{_FS_EXPRS[f]} AS {f}" for f, _m in FS_FIELDS],
    ).localCheckpoint(eager=True)
    # ^ narrow staged record table (7 small cols/row): the
    # u-estimation, the N count and BOTH pair-join sides otherwise
    # re-scan customer 14x (plan audit)
    # one-pass u-estimation: stack the 4 fields into (field, value)
    # rows, count per value, then sum c*(c-1) per field and pivot back
    stack_expr = ", ".join(
        f"'{f}', CAST({f} AS STRING)" for f, _m in FS_FIELDS
    )
    per_field = (
        recs.selectExpr(
            f"stack({len(FS_FIELDS)}, {stack_expr}) AS (fld, val)"
        )
        .groupBy("fld", "val")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("fld")
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1))
            .cast("double")
            .alias("num")
        )
    )
    nums = per_field.groupBy().pivot(
        "fld", [f for f, _m in FS_FIELDS]
    ).agg(F.first("num"))
    n = recs.agg(F.count(F.lit(1)).cast("double").alias("nn"))
    u = (
        n.select((F.col("nn") * (F.col("nn") - 1)).alias("den"))
        .crossJoin(F.broadcast(nums))
        .selectExpr(
            "den", *[f"`{f}` AS num_{f}" for f, _m in FS_FIELDS]
        )
    )
    w_exprs = []
    for f, m in FS_FIELDS:
        a, d = _fs_weight_sql(m, f"num_{f}", "den")
        w_exprs += [f"{a} AS a_{f}", f"{d} AS d_{f}"]
    w = u.selectExpr("den", *w_exprs)
    x = recs.select(
        *[F.col(col).alias(f"x_{col}") for col in recs.columns]
    )
    y = recs.select(
        *[F.col(col).alias(f"y_{col}") for col in recs.columns]
    )
    score = " + ".join(
        f"(CASE WHEN x_{f} = y_{f} THEN a_{f} ELSE d_{f} END)"
        for f, _m in FS_FIELDS
    )
    pass1 = x.join(
        y,
        (F.col("x_c_nationkey") == F.col("y_c_nationkey"))
        & (F.col("x_c_mktsegment") == F.col("y_c_mktsegment"))
        & (F.col("x_bal") == F.col("y_bal"))
        & (F.col("x_c_custkey") < F.col("y_c_custkey")),
    )
    # pass 2: different key, restricted to pairs pass 1 CANNOT emit
    # (bal disagreement) — the passes are disjoint by construction
    pass2 = x.join(
        y,
        (F.col("x_c_nationkey") == F.col("y_c_nationkey"))
        & (F.col("x_c_mktsegment") == F.col("y_c_mktsegment"))
        & (F.col("x_mid") == F.col("y_mid"))
        & (F.col("x_bal") != F.col("y_bal"))
        & (F.col("x_c_custkey") < F.col("y_c_custkey")),
    )
    pairs = (
        pass1.unionByName(pass2)
        .crossJoin(F.broadcast(w))
        .selectExpr(f"({score}) AS total_micro")
    )
    return (
        pairs.groupBy(
            F.expr(
                "CAST(floor(total_micro / 2000000.0) AS BIGINT)"
            ).alias("weight_band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.min("total_micro") / 1_000_000.0, 6).alias(
                "min_weight"
            ),
            F.round(F.max("total_micro") / 1_000_000.0, 6).alias(
                "max_weight"
            ),
        )
        .orderBy("weight_band")
    )


# EM estimation of the Fellegi-Sunter parameters (Winkler 1988): the
# m/u probabilities fellegi_sunter_linkage takes as clerical priors are
# here LEARNED from the unlabeled blocked pairs. Exact fixed-point
# walk: the state (p, m_k, u_k) lives in 1e-6 ints; each E-step pattern
# weight is one double expression on that integer state floored to
# 1e-12; M-step ratios are one double division of exact BIGINT sums
# floored back to 1e-6 — so all 10 iterations are bit-identical across
# engines (the elo/markov recursive-walk discipline).
FS_EM_ITERS = 10
_FS_EM_INIT = {"p": 50_000, "m": 900_000, "u": 100_000}  # micro


def _fs_em_w12(gbits: str, pv: str, mv: list[str], uv: list[str]) -> str:
    """SQL text for one pattern's E-step weight w12 (floored 1e-12):
    num = (p/1e6) * prod_k t_k, den = ((1e6-p)/1e6) * prod_k s_k with
    the factor order FIXED left-to-right — the Python walk multiplies
    in the same order, so the doubles are identical."""
    num = f"({pv} / 1000000.0)"
    den = f"((1000000 - {pv}) / 1000000.0)"
    for k, g in enumerate(gbits.split(",")):
        num += (f" * (CASE WHEN {g} = 1 THEN {mv[k]} / 1000000.0"
                f" ELSE (1000000 - {mv[k]}) / 1000000.0 END)")
        den += (f" * (CASE WHEN {g} = 1 THEN {uv[k]} / 1000000.0"
                f" ELSE (1000000 - {uv[k]}) / 1000000.0 END)")
    return (f"CAST(floor(({num}) / (({num}) + ({den}))"
            f" * 1000000000000 + 0.001) AS BIGINT)")


def _fs_em_oracle() -> str:
    fields = [f for f, _m in FS_FIELDS]
    field_cols = ",\n             ".join(
        f"{_FS_EXPRS[f]} AS {f}" for f in fields
    )
    gcols = ", ".join(f"g_{f}" for f in fields)
    gexprs_1 = ", ".join(
        f"CASE WHEN x.{f} = y.{f} THEN 1 ELSE 0 END AS g_{f}" for f in fields
    )
    clamp = "least(greatest({v}, CAST(1 AS BIGINT)), CAST(999999 AS BIGINT))"
    its = []
    prev = "e0"
    for i in range(1, FS_EM_ITERS + 1):
        w12 = _fs_em_w12(
            ",".join(f"g_{f}" for f in fields),
            "p", [f"m_{f}" for f in fields], [f"u_{f}" for f in fields],
        )
        sums = ["CAST(sum(c * w12) AS BIGINT) AS sw",
                "CAST(sum(c * (1000000000000 - w12)) AS BIGINT) AS su",
                "CAST(sum(c) AS BIGINT) AS nc"]
        for f in fields:
            sums.append(f"CAST(sum(CASE WHEN g_{f} = 1 THEN c * w12"
                        f" ELSE 0 END) AS BIGINT) AS sw_{f}")
            sums.append(f"CAST(sum(CASE WHEN g_{f} = 1 THEN"
                        f" c * (1000000000000 - w12) ELSE 0 END)"
                        f" AS BIGINT) AS su_{f}")
        upd = [clamp.format(
            v="CAST(floor(greatest(sw, 1) / (nc * 1000000000000.0)"
              " * 1000000 + 0.001) AS BIGINT)") + " AS p"]
        for f in fields:
            upd.append(clamp.format(
                v=f"CAST(floor(sw_{f} / (greatest(sw, 1) * 1.0)"
                  f" * 1000000 + 0.001) AS BIGINT)") + f" AS m_{f}")
            upd.append(clamp.format(
                v=f"CAST(floor(su_{f} / (greatest(su, 1) * 1.0)"
                  f" * 1000000 + 0.001) AS BIGINT)") + f" AS u_{f}")
        its.append(f"""
    e{i} AS (
      SELECT {", ".join(upd)}
      FROM (
        SELECT {", ".join(sums)}
        FROM (SELECT pt.c, {gcols}, {w12} AS w12
              FROM patterns pt CROSS JOIN {prev})
      )
    )""")
        prev = f"e{i}"
    mu_out = ", ".join(
        f"round(m_{f} / 1000000.0, 6) AS m_{f},"
        f" round(u_{f} / 1000000.0, 6) AS u_{f}"
        for f in fields
    )
    return f"""
    WITH recs AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             {field_cols}
      FROM customer
    ),
    gammas AS (
      SELECT {gexprs_1}
      FROM recs x JOIN recs y
        ON x.c_nationkey = y.c_nationkey
       AND x.c_mktsegment = y.c_mktsegment
       AND x.bal = y.bal
       AND x.c_custkey < y.c_custkey
      UNION ALL
      SELECT {gexprs_1}
      FROM recs x JOIN recs y
        ON x.c_nationkey = y.c_nationkey
       AND x.c_mktsegment = y.c_mktsegment
       AND x.mid = y.mid
       AND x.bal <> y.bal
       AND x.c_custkey < y.c_custkey
    ),
    patterns AS (
      SELECT {gcols}, CAST(count(*) AS BIGINT) AS c
      FROM gammas GROUP BY {gcols}
    ),
    e0 AS (SELECT CAST({_FS_EM_INIT["p"]} AS BIGINT) AS p,
           {", ".join(f'CAST({_FS_EM_INIT["m"]} AS BIGINT) AS m_{f}' for f in fields)},
           {", ".join(f'CAST({_FS_EM_INIT["u"]} AS BIGINT) AS u_{f}' for f in fields)}),
    {",".join(its)},
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_pairs FROM patterns)
    SELECT t.n_pairs, CAST({FS_EM_ITERS} AS INT) AS n_iters,
           round(e.p / 1000000.0, 6) AS p_match, {mu_out}
    FROM e{FS_EM_ITERS} e CROSS JOIN tot t
    -- no blocked pairs -> no estimate row (mirrors the Spark side,
    -- where applyInPandas never fires on an empty pattern table);
    -- without this the empty-aggregate CTEs NULL-propagate into one
    -- junk row
    WHERE t.n_pairs IS NOT NULL
    """


@register("fellegi_sunter_em_params", oracle=_fs_em_oracle())
def fellegi_sunter_em_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSUPERVISED estimation of the Fellegi-Sunter model — EM over
    the gamma-pattern counts (Winkler 1988, the Splink `estimate_
    parameters_using_expectation_maximisation` workhorse): where
    fellegi_sunter_linkage SCORES pairs with clerically-set m
    probabilities, this operator LEARNS (p, m_k, u_k) from the same
    unlabeled blocked pairs by iterating E (per-pattern match weight
    under conditional independence) and M (weighted agreement rates)
    from a fixed symmetric-broken init (p=.05, m=.9, u=.1), 10
    iterations.

    Determinism (the elo/markov walk discipline): the sufficient
    statistic is the 2^4-row gamma-pattern count table — EM never
    touches pairs again; state lives in exact 1e-6 ints; each E-step
    weight is ONE double expression over that integer state (factor
    order fixed left-to-right) floored to 1e-12, weighted sums are
    exact BIGINT sums, and each M-step ratio is one double division
    floored back to 1e-6 and clamped to [1, 999999] micro, so all 10
    iterations are bit-identical in both engines. Oracle unrolls the
    10 iterations as chained CTEs (the markov-power-iteration
    pattern).

    Scale: the blocked pair join is the multi-key two-pass shape of
    the linkage twin; pattern counting is one map-side-combinable
    groupBy to <= 16 rows; the EM walk runs on that bounded table
    inside one applyInPandas group (state is 9 numbers, never
    data-sized)."""
    import pandas as pd

    fields = [f for f, _m in FS_FIELDS]
    c = load(spark, sf_dir).customer
    recs = c.selectExpr(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        *[f"{_FS_EXPRS[f]} AS {f}" for f in fields],
    ).localCheckpoint(eager=True)
    x = recs.select(*[F.col(col).alias(f"x_{col}") for col in recs.columns])
    y = recs.select(*[F.col(col).alias(f"y_{col}") for col in recs.columns])
    gexprs = [
        F.when(F.col(f"x_{f}") == F.col(f"y_{f}"), 1)
        .otherwise(0)
        .alias(f"g_{f}")
        for f in fields
    ]
    pass1 = x.join(
        y,
        (F.col("x_c_nationkey") == F.col("y_c_nationkey"))
        & (F.col("x_c_mktsegment") == F.col("y_c_mktsegment"))
        & (F.col("x_bal") == F.col("y_bal"))
        & (F.col("x_c_custkey") < F.col("y_c_custkey")),
    ).select(*gexprs)
    pass2 = x.join(
        y,
        (F.col("x_c_nationkey") == F.col("y_c_nationkey"))
        & (F.col("x_c_mktsegment") == F.col("y_c_mktsegment"))
        & (F.col("x_mid") == F.col("y_mid"))
        & (F.col("x_bal") != F.col("y_bal"))
        & (F.col("x_c_custkey") < F.col("y_c_custkey")),
    ).select(*gexprs)
    patterns = (
        pass1.unionByName(pass2)
        .groupBy(*[f"g_{f}" for f in fields])
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )

    def em_walk(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        rows = [
            ([int(r[f"g_{f}"]) for f in fields], int(r["c"]))
            for _, r in pdf.iterrows()
        ]
        n_pairs = sum(cnt for _g, cnt in rows)
        if n_pairs == 0:
            # degenerate: no blocked pairs -> no estimate row (the
            # oracle filters its NULL-propagated row the same way);
            # without this guard the p update below divides by zero
            cols = ["n_pairs", "n_iters", "p_match"]
            for f in fields:
                cols += [f"m_{f}", f"u_{f}"]
            return pd.DataFrame({col: [] for col in cols})
        p = _FS_EM_INIT["p"]
        m = [_FS_EM_INIT["m"]] * len(fields)
        u = [_FS_EM_INIT["u"]] * len(fields)
        clamp = lambda v: min(max(v, 1), 999_999)
        for _ in range(FS_EM_ITERS):
            sw = su = 0
            swk = [0] * len(fields)
            suk = [0] * len(fields)
            for g, cnt in rows:
                # factor order fixed left-to-right — identical to the
                # oracle's SQL expression on identical integer state
                num = p / 1000000.0
                den = (1000000 - p) / 1000000.0
                for k in range(len(fields)):
                    num = num * (
                        m[k] / 1000000.0 if g[k] == 1
                        else (1000000 - m[k]) / 1000000.0
                    )
                    den = den * (
                        u[k] / 1000000.0 if g[k] == 1
                        else (1000000 - u[k]) / 1000000.0
                    )
                w12 = math.floor(num / (num + den) * 1000000000000 + 0.001)
                sw += cnt * w12
                su += cnt * (1000000000000 - w12)
                for k in range(len(fields)):
                    if g[k] == 1:
                        swk[k] += cnt * w12
                        suk[k] += cnt * (1000000000000 - w12)
            p = clamp(
                math.floor(
                    max(sw, 1) / (n_pairs * 1000000000000.0) * 1000000
                    + 0.001
                )
            )
            m = [
                clamp(math.floor(swk[k] / (max(sw, 1) * 1.0) * 1000000 + 0.001))
                for k in range(len(fields))
            ]
            u = [
                clamp(math.floor(suk[k] / (max(su, 1) * 1.0) * 1000000 + 0.001))
                for k in range(len(fields))
            ]
        out = {"n_pairs": [n_pairs], "n_iters": [FS_EM_ITERS],
               "p_match": [round(p / 1000000.0, 6)]}
        for k, f in enumerate(fields):
            out[f"m_{f}"] = [round(m[k] / 1000000.0, 6)]
            out[f"u_{f}"] = [round(u[k] / 1000000.0, 6)]
        return pd.DataFrame(out)

    schema = "n_pairs long, n_iters int, p_match double, " + ", ".join(
        f"m_{f} double, u_{f} double" for f in fields
    )
    return (
        patterns.withColumn("grp", F.lit(1))
        .groupBy("grp")
        .applyInPandas(em_walk, schema=schema)
    )
