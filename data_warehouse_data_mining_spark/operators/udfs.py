"""Pandas-UDF surface: vectorized scalar UDFs, grouped-aggregate UDAFs,
and an iterative DataFrame algorithm.

The engine's position (SURVEY.md §4): hot paths stay UDF-free; when
Python IS needed, it's Arrow-batched pandas UDFs, never row-at-a-time.
These queries prove the full UDF/UDAF surface works — and that even a
Python UDAF can stay oracle-checkable when its math has a SQL twin.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.registry import register


@register(
    "pandas_udaf_gmean",
    oracle="""
    SELECT event_type,
           round(exp(avg(ln(1 + value))) - 1, 4) AS gmean_value,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def pandas_udaf_gmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (vectorized UDAF): shifted geometric
    mean of event values per type. The UDAF's math (expm1∘mean∘log1p)
    has an exact SQL twin, so even the Python path is oracle-checked.
    Arrow ships each group's column once; no Python-per-row cost."""

    @F.pandas_udf("double")
    def gmean(v: pd.Series) -> float:
        return float(np.expm1(np.log1p(v.to_numpy()).mean()))

    @F.pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # pandas UDAFs can't mix with built-in aggregates in one agg —
        # the row count rides the same Arrow batch instead
        return len(v)

    e = load(spark, sf_dir).events
    return e.groupBy("event_type").agg(
        F.round(gmean("value"), 4).alias("gmean_value"),
        n_rows("value").alias("n"),
    )


@register(
    "pandas_scalar_udf_zscore",
    oracle="""
    WITH stats AS (
      SELECT avg(value) AS mu, stddev(value) AS sigma FROM events
    )
    SELECT event_type,
           round(sum(abs((value - mu) / sigma)), 2) AS sum_abs_z,
           count(*) FILTER (WHERE abs((value - mu) / sigma) > 1.5) AS n_outliers
    FROM events, stats
    GROUP BY event_type
    """,
)
def pandas_scalar_udf_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF: z-score against broadcast global
    stats, then outlier counting. (A built-in expression would do this
    too — the point is the Arrow scalar-UDF path, oracle-checked.)"""
    e = load(spark, sf_dir).events
    stats = e.agg(F.avg("value").alias("mu"), F.stddev("value").alias("sigma"))

    @F.pandas_udf("double")
    def zscore(v: pd.Series, mu: pd.Series, sigma: pd.Series) -> pd.Series:
        return (v - mu) / sigma

    return (
        e.crossJoin(F.broadcast(stats))
        .withColumn("z", zscore("value", "mu", "sigma"))
        .groupBy("event_type")
        .agg(
            F.round(F.sum(F.abs(F.col("z"))), 2).alias("sum_abs_z"),
            F.count(F.when(F.abs(F.col("z")) > 1.5, 1)).alias("n_outliers"),
        )
    )


_MARKOV_ITERS = 12

# Fixed-iteration power iteration IS SQL-expressible by unrolling: one
# CTE per iteration (aggregates are not allowed in recursive-CTE terms,
# so unrolling beats recursion here). Must mirror the Spark loop exactly:
# same bigram table, same row-normalized transition probabilities, same
# uniform start vector, same iteration count.
_MARKOV_ORACLE = (
    """
    WITH big AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_type
        FROM events
      ) t
      WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    ),
    trans AS (
      SELECT prev_type, next_type,
             n * 1.0 / sum(n) OVER (PARTITION BY prev_type) AS p
      FROM big
    ),
    r0 AS (
      SELECT prev_type AS state,
             1.0 / (SELECT count(DISTINCT prev_type) FROM trans) AS prob
      FROM (SELECT DISTINCT prev_type FROM trans)
    )
    """
    + "".join(
        f", r{i + 1} AS (SELECT t.next_type AS state, sum(t.p * r.prob) AS prob"
        f" FROM r{i} r JOIN trans t ON t.prev_type = r.state GROUP BY t.next_type)"
        for i in range(_MARKOV_ITERS)
    )
    + f" SELECT state, round(prob, 6) AS stationary_prob FROM r{_MARKOV_ITERS}"
)


def _markov_walk(pdf: pd.DataFrame) -> pd.DataFrame:
    """The whole transition table in, the final vector out: see
    ``_power_iteration``."""
    rows = sorted(
        zip(pdf["next_type"].tolist(), pdf["prev_type"].tolist(),
            pdf["p"].tolist())
    )
    sources = set(pdf["prev_type"].tolist())
    prob = {a: 1.0 / len(sources) for a in sources}
    for _ in range(_MARKOV_ITERS):
        nxt: dict[str, float] = {}
        for b, a, p in rows:
            if a in prob:
                nxt[b] = nxt.get(b, 0.0) + p * prob[a]
        prob = nxt
    states = sorted(prob)
    return pd.DataFrame({"state": states, "prob": [prob[s] for s in states]})


def _power_iteration(trans: DataFrame) -> DataFrame:
    """``(state, prob)`` after _MARKOV_ITERS power-iteration supersteps
    over a transition table ``(prev_type, next_type, p)``, from the
    uniform vector over its source states: ``prob'[b] = sum_a p[a,b] *
    prob[a]`` in plain Python doubles.

    The state is bounded by the event-type domain (k×k cells), never by
    the data, so all supersteps run inside ONE applyInPandas task
    (``_markov_walk``) instead of one scheduled join round each. Each
    target's terms are summed in sorted ``(next_type, prev_type)``
    order, which no partitioning can change. Do not reassociate: the
    6-dp oracle rounding is checked against exactly this sum order. An
    empty table has no group and yields no rows, like the oracle."""
    return (
        trans.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(_markov_walk, "state string, prob double")
    )


@register("markov_stationary_distribution", oracle=_MARKOV_ORACLE)
def markov_stationary_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative DataFrame algorithm: power iteration on the event-type
    transition matrix from event_sequence_bigrams → the stationary
    distribution of the user-behavior Markov chain. The DuckDB oracle
    unrolls the same 12 iterations as chained CTEs.

    Building schedules no Spark job: the transition table is read once,
    lazily, by the single-task walk in ``_power_iteration`` (sorted
    summation order, do not reassociate). At 100 TB the bigram
    extraction is the only data-sized work; the k×k walk is not."""
    from data_warehouse_data_mining_spark.operators.mining import (
        event_sequence_bigrams,
    )

    bigrams = event_sequence_bigrams(spark, sf_dir)
    totals = bigrams.groupBy("prev_type").agg(F.sum("n").alias("total"))
    trans = bigrams.join(totals, "prev_type").select(
        "prev_type",
        "next_type",
        (F.col("n") / F.col("total")).alias("p"),
    )
    return _power_iteration(trans).select(
        "state", F.round("prob", 6).alias("stationary_prob")
    )


@register(
    "udtf_word_trigrams",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    trigrams AS (
      SELECT doc_id, ws[pos] || ' ' || ws[pos + 1] || ' ' || ws[pos + 2] AS ngram
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS pos
            FROM words WHERE len(ws) >= 3)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           min(ngram) AS min_trigram
    FROM trigrams GROUP BY doc_id ORDER BY doc_id
    """,
)
def udtf_word_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 3.5+/4.x UDTF surface):
    one input row → many output rows, consumed via LATERAL join.

    The UDTF mirrors texthash.word_shingles (which does the same thing
    in pure whole-stage-codegen SQL — the PREFERRED hot path, see module
    docstring); this registers the table-function API itself, with the
    same exact oracle as the expression twin. Lateral row expansion is
    partition-local: no shuffle until the per-doc aggregate."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, ngram string")
    class WordTrigrams:
        def eval(self, text: str):  # noqa: ANN001 - UDTF protocol
            ws = (text or "").split(" ")
            for i in range(len(ws) - 2):
                yield i, " ".join(ws[i : i + 3])

    spark.udtf.register("word_trigrams", WordTrigrams)
    cat = load(spark, sf_dir)
    cat.table("documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT doc_id, count(*) AS n_trigrams, min(ngram) AS min_trigram
        FROM documents, LATERAL word_trigrams(text)
        GROUP BY doc_id ORDER BY doc_id
        """
    )


@register(
    "arrow_python_udf_slug",
    oracle="""
    SELECT p_partkey,
           lower(regexp_replace(trim(p_name), '[^a-zA-Z0-9]+', '-', 'g'))
             AS slug
    FROM part WHERE p_partkey <= 500
    ORDER BY p_partkey
    """,
)
def arrow_python_udf_slug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized row Python UDF (``useArrow=True``, Spark 4's
    recommended form for logic that genuinely needs per-row Python):
    values cross in Arrow batches instead of pickled rows — ~2-5×
    faster serialization than the legacy pickle path, though still
    10-100× slower than staying JVM-side. The slug logic has an exact
    codegen twin (the oracle), which is the point: the UDF form is
    covered, and the measurement argument for NOT using it stays
    checkable.
    """
    import re

    @F.udf("string", useArrow=True)
    def slugify(name: str) -> str:
        return re.sub(r"[^a-zA-Z0-9]+", "-", name.strip()).lower()

    p = load(spark, sf_dir).part.filter(F.col("p_partkey") <= 500)
    return p.select("p_partkey", slugify("p_name").alias("slug")).orderBy(
        "p_partkey"
    )


_BAL_CAP = 2_000_000  # wallet ceiling, in cents


def wallet_step(
    bal: int, ncap: int, nfloor: int, delta: int, cap: int
) -> tuple[int, int, int]:
    """One step of the saturating-wallet recurrence — THE shared
    definition: the batch operator (capped_running_balance) and the
    streaming state machine (streaming/stateful.py::capped_wallet_stream)
    both call this, so the stream≡batch contract test can never be
    broken by the two copies drifting apart."""
    raw = bal + delta
    if raw > cap:
        ncap += 1
    if raw < 0:
        nfloor += 1
    return min(max(raw, 0), cap), ncap, nfloor


@register(
    "capped_running_balance",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT o_custkey AS ck,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             CASE WHEN o_orderkey % 2 = 0
                  THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                  ELSE -CAST(round(o_totalprice * 100, 0) AS BIGINT)
             END AS delta
      FROM orders
    ),
    nmax AS (SELECT ck, CAST(max(rn) AS BIGINT) AS n_orders FROM seq GROUP BY ck),
    walk(ck, rn, bal, ncap, nfloor) AS (
      SELECT ck, rn,
             LEAST(GREATEST(delta, 0), {_BAL_CAP}),
             CASE WHEN delta > {_BAL_CAP} THEN 1 ELSE 0 END,
             CASE WHEN delta < 0 THEN 1 ELSE 0 END
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.ck, s.rn,
             LEAST(GREATEST(w.bal + s.delta, 0), {_BAL_CAP}),
             w.ncap   + CASE WHEN w.bal + s.delta > {_BAL_CAP} THEN 1 ELSE 0 END,
             w.nfloor + CASE WHEN w.bal + s.delta < 0 THEN 1 ELSE 0 END
      FROM walk w JOIN seq s ON s.ck = w.ck AND s.rn = w.rn + 1
    )
    SELECT w.ck AS custkey,
           CAST(w.bal AS BIGINT) AS end_balance_cents,
           CAST(w.ncap AS BIGINT) AS n_capped,
           CAST(w.nfloor AS BIGINT) AS n_floored,
           n.n_orders
    FROM walk w JOIN nmax n ON n.ck = w.ck AND w.rn = n.n_orders
    ORDER BY custkey
    """,
)
def capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running balance per customer — a prepaid wallet where
    even-keyed orders credit and odd-keyed orders debit (exact cents),
    the balance saturates at [0, $20k], and cap/floor hits are counted.

    Saturating state is the canonical NOT-window-expressible recurrence:
    bal_i = clamp(bal_{{i-1}} + delta_i) depends on the clamp at every
    prior step, so no prefix-sum trick applies. The Spark shape is
    ``applyInPandas`` over ``groupBy(custkey)`` — Arrow ships each
    customer's orders once, a tiny Python loop walks them in
    (orderdate, orderkey) order, and state never leaves the executor.
    At 100 TB this is the stateful-per-key pattern of
    ``transformWithState`` batch-ified: parallelism = #customers, and
    the only shuffle is the groupBy. The oracle walks the identical
    recurrence as a recursive CTE (depth = max orders/customer)."""
    o = load(spark, sf_dir).orders
    src = o.select(
        F.col("o_custkey").alias("custkey"),
        "o_orderdate",
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 2 == 0,
            F.round(F.col("o_totalprice") * 100, 0).cast("long"),
        )
        .otherwise(-F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .alias("delta"),
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["o_orderdate", "o_orderkey"])
        bal = ncap = nfloor = 0
        for d in pdf["delta"].to_numpy():
            bal, ncap, nfloor = wallet_step(bal, ncap, nfloor, int(d), _BAL_CAP)
        return pd.DataFrame(
            {
                "custkey": [int(pdf["custkey"].iloc[0])],
                "end_balance_cents": [bal],
                "n_capped": [ncap],
                "n_floored": [nfloor],
                "n_orders": [len(pdf)],
            }
        )

    # Explicit repartition with a PINNED partition count: the walk stage
    # is Python-CPU-bound, and AQE's byte-based coalescing (which skips
    # user-specified repartitions but not plain groupBy shuffles) would
    # squeeze the small shuffle onto a handful of partitions and
    # serialize the per-customer walks onto that many Python workers —
    # measured 3× slower at sf0.1 than keeping one partition per core.
    par = spark.sparkContext.defaultParallelism
    return (
        src.repartition(par, "custkey")
        .groupBy("custkey")
        .applyInPandas(
            walk,
            "custkey long, end_balance_cents long, n_capped long, "
            "n_floored long, n_orders long",
        )
        .orderBy("custkey")
    )


def holt_step(s: int, b: int, x: int) -> tuple[int, int]:
    """One step of the integer-space Holt double-exponential recurrence
    (α = β = 1/2, floor arithmetic): s' = ⌊(x + s + b)/2⌋,
    b' = ⌊(s' - s + b)/2⌋. Shared so tests can pin the Spark walker and
    a future streaming twin to one definition (the wallet_step
    pattern)."""
    s2 = (x + s + b) // 2
    b2 = (s2 - s + b) // 2
    return s2, b2


@register(
    "holt_linear_forecast",
    oracle="""
    WITH RECURSIVE m AS (
      SELECT n_name AS nation, strftime(o_orderdate, '%Y-%m') AS month,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    seq AS (
      SELECT nation, x,
             row_number() OVER (PARTITION BY nation ORDER BY month) AS rn
      FROM m
    ),
    nmax AS (
      SELECT nation, CAST(max(rn) AS BIGINT) AS n_months FROM seq GROUP BY nation
    ),
    walk(nation, rn, s, b) AS (
      SELECT nation, rn, x, CAST(0 AS BIGINT) FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.nation, q.rn, q.s_new,
             (q.s_new - q.s_prev + q.b_prev
              - (((q.s_new - q.s_prev + q.b_prev) % 2 + 2) % 2)) // 2
      FROM (
        SELECT seq.nation, seq.rn, w.s AS s_prev, w.b AS b_prev,
               (seq.x + w.s + w.b
                - (((seq.x + w.s + w.b) % 2 + 2) % 2)) // 2 AS s_new
        FROM walk w JOIN seq ON seq.nation = w.nation AND seq.rn = w.rn + 1
      ) q
    )
    SELECT w.nation AS nation, n.n_months,
           CAST(w.s AS BIGINT) AS level_cents,
           CAST(w.b AS BIGINT) AS trend_cents,
           CAST(w.s + 3 * w.b AS BIGINT) AS forecast_3m_cents,
           round((w.s + 3 * w.b) / 100.0, 2) AS forecast_3m
    FROM walk w JOIN nmax n ON n.nation = w.nation AND w.rn = n.n_months
    ORDER BY nation
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, α = β = 1/2)
    over each nation's monthly order revenue, with a 3-months-ahead
    linear forecast — the classic short-horizon demand forecast one
    step past ewma_per_user (which smooths level only).

    Holt's coupled recurrences (level feeds trend feeds level) have no
    prefix-sum closed form under floor arithmetic, so this is the
    stateful-per-key pattern: ``applyInPandas`` over ``groupBy(nation)``
    walks each nation's ≤ ~85-month series in arrival order — state
    never leaves the executor, parallelism = #series. The series is
    month-grain (pre-aggregated from one orders scan), so walk length is
    bounded by the calendar, not data volume. Integer cents with floor
    division keep every engine bit-identical; the oracle walks the same
    recurrence as a recursive CTE whose floor-div is spelled
    ``(a - nonneg_mod(a,2)) // 2`` because DuckDB's ``%`` keeps the
    dividend's sign (trend can go negative)."""
    t = load(spark, sf_dir)
    monthly = (
        t.orders.join(
            t.customer, t.orders.o_custkey == t.customer.c_custkey
        )
        .join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("x")
        )
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month")
        xs = pdf["x"].to_numpy()
        s, b = int(xs[0]), 0
        for x in xs[1:]:
            s, b = holt_step(s, b, int(x))
        return pd.DataFrame(
            {
                "nation": [pdf["nation"].iloc[0]],
                "n_months": [len(pdf)],
                "level_cents": [s],
                "trend_cents": [b],
                "forecast_3m_cents": [s + 3 * b],
                "forecast_3m": [round((s + 3 * b) / 100.0, 2)],
            }
        )

    return (
        monthly.groupBy("nation")
        .applyInPandas(
            walk,
            "nation string, n_months long, level_cents long, "
            "trend_cents long, forecast_3m_cents long, forecast_3m double",
        )
        .orderBy("nation")
    )


@register(
    "forecast_backtest_mase",
    oracle="""
    WITH RECURSIVE m AS (
      SELECT n_name AS nation, strftime(o_orderdate, '%Y-%m') AS month,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    seq AS (
      SELECT nation, x,
             row_number() OVER (PARTITION BY nation ORDER BY month) AS rn,
             count(*) OVER (PARTITION BY nation) AS n
      FROM m
    ),
    walk(nation, rn, s, b) AS (
      SELECT nation, rn, x, CAST(0 AS BIGINT) FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.nation, q.rn, q.s_new,
             (q.s_new - q.s_prev + q.b_prev
              - (((q.s_new - q.s_prev + q.b_prev) % 2 + 2) % 2)) // 2
      FROM (
        SELECT seq.nation, seq.rn, w.s AS s_prev, w.b AS b_prev,
               (seq.x + w.s + w.b
                - (((seq.x + w.s + w.b) % 2 + 2) % 2)) // 2 AS s_new
        FROM walk w
        JOIN seq ON seq.nation = w.nation AND seq.rn = w.rn + 1
        WHERE seq.rn <= seq.n - 3
      ) q
    ),
    fitted AS (
      SELECT w.nation, w.s, w.b, n.n, n.last_x
      FROM walk w
      JOIN (SELECT nation, CAST(max(rn) AS BIGINT) AS n,
                   CAST(arg_max(x, rn) AS BIGINT) AS last_x
            FROM seq WHERE rn <= n - 3 GROUP BY nation) n
        ON n.nation = w.nation AND w.rn = n.n
    ),
    errs AS (
      SELECT f.nation,
             CAST(sum(abs(f.s + (a.rn - f.n) * f.b - a.x)) AS BIGINT)
               AS holt_err,
             CAST(sum(abs(f.last_x - a.x)) AS BIGINT) AS naive_err,
             CAST(count(*) AS BIGINT) AS horizon
      FROM fitted f
      JOIN seq a ON a.nation = f.nation AND a.rn > f.n
      GROUP BY f.nation
    )
    SELECT nation, horizon,
           holt_err AS holt_abs_err_cents,
           naive_err AS naive_abs_err_cents,
           CASE WHEN naive_err = 0 THEN NULL
                ELSE round(holt_err * 1.0 / naive_err, 6) END AS mase
    FROM errs ORDER BY nation
    """,
)
def forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: hold out each nation's LAST 3 months, fit the
    integer Holt recurrence (holt_step) on the training prefix, and
    score the 3-step linear forecasts against the held-out actuals —
    reported as summed absolute error vs the last-value NAIVE baseline
    and their ratio (a horizon-summed MASE: < 1 means the model beats
    naive). Forecast evaluation is the half of forecasting that
    holt_linear_forecast alone doesn't give, and doing it deterministic
    end-to-end makes model-selection itself oracle-checkable.

    Same stateful-per-key shape as the fit (applyInPandas walks the
    train prefix; errors are exact integer cents); the oracle reuses
    the recursive-CTE walk bounded to rn ≤ n-3 and joins the three
    actuals back."""
    t = load(spark, sf_dir)
    monthly = (
        t.orders.join(
            t.customer, t.orders.o_custkey == t.customer.c_custkey
        )
        .join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("x")
        )
    )

    def backtest(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month")
        xs = [int(v) for v in pdf["x"].to_numpy()]
        n_train = len(xs) - 3
        train, test = xs[:n_train], xs[n_train:]
        s, b = train[0], 0
        for x in train[1:]:
            s, b = holt_step(s, b, x)
        holt_err = sum(abs(s + (h + 1) * b - a) for h, a in enumerate(test))
        naive_err = sum(abs(train[-1] - a) for a in test)
        return pd.DataFrame(
            {
                "nation": [pdf["nation"].iloc[0]],
                "horizon": [len(test)],
                "holt_abs_err_cents": [holt_err],
                "naive_abs_err_cents": [naive_err],
                "mase": [
                    round(holt_err / naive_err, 6) if naive_err else None
                ],
            }
        )

    return (
        monthly.groupBy("nation")
        .applyInPandas(
            backtest,
            "nation string, horizon long, holt_abs_err_cents long, "
            "naive_abs_err_cents long, mase double",
        )
        .orderBy("nation")
    )


@register(
    "arrow_group_apply_trimmed_mean",
    oracle="""
    WITH r AS (
      SELECT c_mktsegment AS segment, c_custkey,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS rn,
             count(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_used,
           round(sum(cents) * 1.0 / count(*) / 100, 6) AS trimmed_mean
    FROM r
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY segment
    """,
)
def arrow_group_apply_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of customer balances per market segment via
    ``applyInArrow`` — the Spark 4 arrow-NATIVE group apply: the worker
    hands each group as a ``pyarrow.Table`` and everything (sort, slice,
    fixed-point sum) runs in pyarrow.compute kernels with zero
    pandas/NumPy conversion — the zero-copy twin of ``applyInPandas``
    for columnar per-group logic. Balances fold to exact cents before
    summing and the final division rounds half-away (DuckDB's rule, not
    Python's banker's rounding), so both engines emit identical
    doubles. One shuffle on segment; group state never leaves the
    executor."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def trimmed(table: "pa.Table") -> "pa.Table":
        idx = pc.sort_indices(
            table,
            sort_keys=[("c_acctbal", "ascending"), ("c_custkey", "ascending")],
        )
        t = table.take(idx)
        n = t.num_rows
        cut = n // 10
        sl = t.slice(cut, n - 2 * cut)
        cents = pc.cast(
            pc.round(pc.multiply(sl.column("c_acctbal"), 100.0)), pa.int64()
        )
        total = pc.sum(cents).as_py()
        cnt = sl.num_rows
        x = total / cnt / 100.0
        # half-away-from-zero at 6 decimals (DuckDB round), not Python's
        # banker's rounding
        import math

        scaled = x * 1_000_000
        frac = scaled - math.floor(scaled)
        mean6 = (
            math.floor(scaled) + (1 if frac >= 0.5 else 0)
        ) / 1_000_000
        return pa.table(
            {
                "segment": [t.column("c_mktsegment")[0].as_py()],
                "n_used": [cnt],
                "trimmed_mean": [mean6],
            }
        )

    c = load(spark, sf_dir).customer
    return (
        c.select("c_mktsegment", "c_custkey", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInArrow(trimmed, schema="segment string, n_used long, trimmed_mean double")
    )


@register(
    "sql_udf_discounted_revenue",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_quantity < 30
    GROUP BY l_returnflag
    """,
)
def sql_udf_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined UDF (Spark 4 ``CREATE FUNCTION ... RETURN expr``):
    the discounted-price formula declared ONCE as a catalog function and
    reused by name. Unlike a Python UDF, the body INLINES into Catalyst
    at resolution time — the plan is identical to writing the expression
    inline (whole-stage codegen, pushdown through it, zero
    serialization), which is why this is the right tool for shared
    business formulas and the oracle is simply the expanded expression.
    Money canon: the sum routes through DECIMAL(28,4)
    (operators/relational.py::money_sum contract)."""
    load(spark, sf_dir).register_views()
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    return spark.sql(
        """
        SELECT l_returnflag AS flag,
               CAST(round(sum(CAST(disc_price(l_extendedprice, l_discount)
                                   AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_quantity < 30
        GROUP BY l_returnflag
        """
    )


def croston_step(z: int, p: int, x: int, q: int) -> tuple[int, int]:
    """One Croston update at a nonzero-demand event (α = 1/2, floor
    arithmetic, all quantities nonnegative): z' = ⌊(x + z)/2⌋ smooths
    the demand SIZE, p' = ⌊(q + p)/2⌋ smooths the inter-demand
    INTERVAL. Shared by the Spark walker, its test mirror, and the
    recursive-CTE oracle (which spells the same floor divisions)."""
    return (x + z) // 2, (q + p) // 2


@register(
    "croston_intermittent_demand",
    oracle="""
    WITH RECURSIVE wk AS (
      SELECT l_partkey AS pk,
             date_diff('week', (SELECT min(date_trunc('week', l_shipdate))
                                FROM lineitem),
                       date_trunc('week', l_shipdate)) + 1 AS widx,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
      FROM lineitem
      WHERE l_partkey % 50 = 0
      GROUP BY 1, 2
    ),
    seq AS (
      SELECT pk, widx, x,
             row_number() OVER (PARTITION BY pk ORDER BY widx) AS rn,
             CAST(coalesce(widx - lag(widx) OVER (PARTITION BY pk
                                                  ORDER BY widx),
                           widx) AS BIGINT) AS q
      FROM wk
    ),
    nmax AS (
      SELECT pk, CAST(max(rn) AS BIGINT) AS n_events,
             CAST(max(widx) AS BIGINT) AS last_week
      FROM seq GROUP BY pk
    ),
    walk(pk, rn, z, p) AS (
      SELECT pk, rn, x, q FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.pk, s.rn, (s.x + w.z) // 2, (s.q + w.p) // 2
      FROM walk w JOIN seq s ON s.pk = w.pk AND s.rn = w.rn + 1
    )
    SELECT w.pk AS partkey, n.n_events, n.last_week,
           CAST(w.z AS BIGINT) AS size_smoothed,
           CAST(w.p AS BIGINT) AS interval_smoothed,
           round(w.z / CAST(w.p AS DOUBLE), 6) AS croston_rate
    FROM walk w JOIN nmax n ON n.pk = w.pk AND w.rn = n.n_events
    ORDER BY partkey
    """,
)
def croston_intermittent_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand (Croston 1972) over a
    deterministic 2% part sample (partkey % 50 = 0): weekly demand per
    part is mostly zeros, which wrecks plain EWMA — Croston separately
    smooths the nonzero demand SIZES and the INTERVALS between them
    (both α = 1/2, integer floor arithmetic), and the per-week demand
    rate forecast is size/interval; the spare-parts-planning standard
    that holt_linear_forecast's dense-series assumption can't serve.

    Same stateful-per-key pattern as holt: coupled floor recurrences
    have no prefix-sum closed form, so ``applyInPandas`` over
    ``groupBy(partkey)`` walks each part's occurrence list in week
    order — walk length bounded by the calendar, state never leaves
    the executor. All state is exact integers (quantities and week
    indexes), so the recursive-CTE oracle reproduces every step; the
    only double is the final rate."""
    li = load(spark, sf_dir).lineitem.filter(F.col("l_partkey") % 50 == 0)
    wk0 = F.date_trunc("week", F.col("l_shipdate"))
    gmin = load(spark, sf_dir).lineitem.agg(
        F.min(F.date_trunc("week", F.col("l_shipdate"))).alias("w0")
    )
    weekly = (
        li.crossJoin(F.broadcast(gmin))
        .groupBy(
            F.col("l_partkey").alias("pk"),
            (F.floor(
                (wk0.cast("long") - F.col("w0").cast("long")) / (7 * 86400)
            ) + 1).cast("long").alias("widx"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("x"))
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("widx")
        widx = pdf["widx"].to_numpy()
        xs = pdf["x"].to_numpy()
        z, p = int(xs[0]), int(widx[0])
        for i in range(1, len(xs)):
            z, p = croston_step(z, p, int(xs[i]), int(widx[i] - widx[i - 1]))
        return pd.DataFrame(
            {
                "partkey": [int(pdf["pk"].iloc[0])],
                "n_events": [len(pdf)],
                "last_week": [int(widx[-1])],
                "size_smoothed": [z],
                "interval_smoothed": [p],
                "croston_rate": [round(z / p, 6)],
            }
        )

    par = spark.sparkContext.defaultParallelism
    return (
        weekly.repartition(par, "pk")
        .groupBy("pk")
        .applyInPandas(
            walk,
            "partkey long, n_events long, last_week long, "
            "size_smoothed long, interval_smoothed long, croston_rate double",
        )
        .orderBy("partkey")
    )


EWMA_D2 = 1.128  # moving-range d2 constant for individuals charts
EWMA_L = 3.0     # 3-sigma control limits


def ewma_step(s: int, x: int) -> int:
    """One lambda = 1/2 integer EWMA step: s' = floor((x + s)/2). Shared
    with the test replica (the holt_step pattern)."""
    return (x + s) // 2


@register(
    "ewma_control_chart",
    oracle=f"""
    WITH RECURSIVE m AS (
      SELECT n_name AS nation, strftime(o_orderdate, '%Y-%m') AS month,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    seq AS (
      SELECT nation, x,
             row_number() OVER (PARTITION BY nation ORDER BY month)
               AS rn
      FROM m
    ),
    st AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sumx
      FROM seq GROUP BY nation
    ),
    mr AS (
      SELECT a.nation,
             CAST(sum(abs(b.x - a.x)) AS BIGINT) AS smr
      FROM seq a JOIN seq b
        ON b.nation = a.nation AND b.rn = a.rn + 1
      GROUP BY a.nation
    ),
    walk(nation, rn, s, q) AS (
      SELECT seq.nation, seq.rn,
             (seq.x + st.sumx // st.n) // 2,
             CAST(0.25 AS DOUBLE)
      FROM seq JOIN st ON st.nation = seq.nation WHERE seq.rn = 1
      UNION ALL
      SELECT seq.nation, seq.rn, (seq.x + w.s) // 2, w.q * 0.25
      FROM walk w
      JOIN seq ON seq.nation = w.nation AND seq.rn = w.rn + 1
    ),
    flags AS (
      SELECT w.nation, w.rn, w.s,
             CASE WHEN abs(w.s - CAST(st.sumx AS DOUBLE) / st.n)
                       > {EWMA_L} * ((CAST(mr.smr AS DOUBLE)
                                      / (st.n - 1)) / {EWMA_D2})
                         * sqrt((1.0 - w.q) / 3.0)
                  THEN 1 ELSE 0 END AS ooc
      FROM walk w
      JOIN st ON st.nation = w.nation
      JOIN mr ON mr.nation = w.nation
    )
    SELECT st.nation, st.n AS n_months,
           round(((CAST(mr.smr AS DOUBLE) / (st.n - 1)) / {EWMA_D2})
                 / 100, 2) AS sigma_hat_dollars,
           CAST(f.n_ooc AS BIGINT) AS n_out_of_control,
           round(f.last_s / 100.0, 2) AS last_ewma_dollars
    FROM st
    JOIN mr ON mr.nation = st.nation
    JOIN (SELECT nation, sum(ooc) AS n_ooc,
                 max(CASE WHEN rn = (SELECT max(rn) FROM walk w2
                                     WHERE w2.nation = flags.nation)
                          THEN s END) AS last_s
          FROM flags GROUP BY nation) f ON f.nation = st.nation
    ORDER BY st.nation
    """,
)
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts 1959; Lucas & Saccucci 1990) over
    each nation's monthly revenue: lambda = 1/2 smoothing, center =
    the series mean, sigma estimated from the mean moving range
    (MR-bar/d2, the individuals-chart estimator), and time-varying
    L=3 limits center +/- 3 sigma sqrt(lambda/(2-lambda) *
    (1-(1-lambda)^(2t))) — the variance ramp that makes early points
    tighter. Reports per nation the out-of-control count and final
    EWMA level: the PROCESS-MONITORING member of the SPC row beside
    cusum_changepoint (location shift) and page_hinkley_drift
    (sequential drift alarm).

    Determinism: the smoothed state walks in exact integer cents
    (lambda = 1/2 => s' = floor((x+s)/2), the holt_step discipline);
    the variance ramp (1-lambda)^(2t) = 0.25^t accumulates by exact
    binary-scaling multiplications, so q is bit-identical; center,
    sigma-hat and the limit are one identical double expression, and
    the out-of-control comparison runs on identical doubles. Oracle
    walks the same recurrence as a recursive CTE.

    Scale: one fact scan -> (nation, month) agg; the walk is the
    stateful-per-key applyInPandas pattern — state never leaves the
    executor, parallelism = #series, series length is calendar-bounded."""
    t = load(spark, sf_dir)
    monthly = (
        t.orders.join(
            t.customer, t.orders.o_custkey == t.customer.c_custkey
        )
        .join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("x")
        )
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month")
        xs = [int(v) for v in pdf["x"].to_numpy()]
        n = len(xs)
        if n < 2:
            # A single-month series has no moving range: sigma-hat is
            # undefined. The oracle's mr CTE inner-joins and therefore
            # drops such nations; drop them identically here so both
            # engines agree on degenerate series lengths.
            return pd.DataFrame(
                {
                    "nation": pd.Series([], dtype=str),
                    "n_months": pd.Series([], dtype="int64"),
                    "sigma_hat_dollars": pd.Series([], dtype=float),
                    "n_out_of_control": pd.Series([], dtype="int64"),
                    "last_ewma_dollars": pd.Series([], dtype=float),
                }
            )
        sumx = sum(xs)
        smr = sum(abs(b - a) for a, b in zip(xs, xs[1:]))
        center = sumx / n
        sigma = (smr / (n - 1)) / EWMA_D2
        s = sumx // n
        q = 1.0
        n_ooc = 0
        for x in xs:
            s = ewma_step(s, x)
            q *= 0.25
            # math.sqrt, not **0.5: pow is not guaranteed correctly
            # rounded; sqrt is, and the oracle uses sqrt()
            if abs(s - center) > EWMA_L * sigma * math.sqrt((1.0 - q) / 3.0):
                n_ooc += 1
        return pd.DataFrame(
            {
                "nation": [pdf["nation"].iloc[0]],
                "n_months": [n],
                "sigma_hat_dollars": [round(sigma / 100, 2)],
                "n_out_of_control": [n_ooc],
                "last_ewma_dollars": [round(s / 100, 2)],
            }
        )

    return (
        monthly.groupBy("nation")
        .applyInPandas(
            walk,
            schema=(
                "nation string, n_months long, sigma_hat_dollars double,"
                " n_out_of_control long, last_ewma_dollars double"
            ),
        )
        .orderBy("nation")
    )


_MER_LN2 = 0.693147181


@register(
    "markov_entropy_rate",
    oracle=_MARKOV_ORACLE.replace(
        f" SELECT state, round(prob, 6) AS stationary_prob"
        f" FROM r{_MARKOV_ITERS}",
        f""",
    hrow AS (
      SELECT prev_type AS state,
             CAST(sum(CASE WHEN p > 0 THEN
               -CAST(floor(p * ln(p) * 1000000 - 0.001) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS h_micro
      FROM trans GROUP BY prev_type
    ),
    joined AS (
      SELECT h.state, r.prob, h.h_micro
      FROM hrow h JOIN r{_MARKOV_ITERS} r ON r.state = h.state
    ),
    tot AS (
      SELECT round(sum(prob * h_micro) / (1000000.0 * {_MER_LN2}), 6)
        AS rate FROM joined
    )
    SELECT j.state, round(j.prob, 6) AS stationary_prob,
           round(j.h_micro / (1000000.0 * {_MER_LN2}), 6)
             AS state_entropy_bits,
           t.rate AS entropy_rate_bits
    FROM joined j CROSS JOIN tot t
    ORDER BY j.state
    """,
    ),
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-behavior Markov chain (Shannon 1948:
    H = -sum_i pi_i sum_j P_ij log2 P_ij): how many bits of surprise
    each successive event carries once the chain mixes — the
    information-theoretic single number for 'how predictable are user
    journeys', decomposed per state (a state whose row entropy is low
    is a funnel; high is a crossroads). Builds on
    markov_stationary_distribution's 12-step power iteration and the
    same bigram transition table.

    Determinism: transition probabilities are exact rationals; each
    P ln P cell term is floored to 1e-6 (the floor at -0.001 keeps
    the NEGATIVE terms' guard on the correct side), so row entropies
    are exact BIGINTs; the stationary vector follows its sibling
    query's accepted plain-double discipline (5-state sums, 1e-16 ulp
    noise ~8 orders below the 6-dp rounding).

    Scale: one fact scan -> bigram hash agg; everything else runs on
    the 5x5 transition table."""
    e = load(spark, sf_dir).events
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    big = (
        e.select(
            "event_type",
            F.lag("event_type").over(wlag).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # 5x5 table, read by both paths
    )
    wrow = Window.partitionBy("prev_type")
    trans = big.select(
        "prev_type",
        "next_type",
        (F.col("n") * 1.0 / F.sum("n").over(wrow)).alias("p"),
    )
    ranks = _power_iteration(trans)
    hrow = trans.groupBy(F.col("prev_type").alias("hstate")).agg(
        F.sum(
            F.when(
                F.col("p") > 0,
                -F.expr(
                    "CAST(floor(p * ln(p) * 1000000 - 0.001) AS BIGINT)"
                ),
            ).otherwise(0)
        )
        .cast("long")
        .alias("h_micro")
    )
    joined = hrow.join(ranks, F.col("state") == F.col("hstate"))
    tot = joined.agg(
        F.round(
            F.sum(F.col("prob") * F.col("h_micro"))
            / (1_000_000.0 * _MER_LN2),
            6,
        ).alias("entropy_rate_bits")
    )
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "state",
            F.round("prob", 6).alias("stationary_prob"),
            F.round(
                F.col("h_micro") / (1_000_000.0 * _MER_LN2), 6
            ).alias("state_entropy_bits"),
            "entropy_rate_bits",
        )
        .orderBy("state")
    )
