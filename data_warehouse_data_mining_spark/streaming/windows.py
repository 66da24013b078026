"""Event-time windowing over the ``events`` table.

Each aggregation is written ONCE against a DataFrame and used two ways:

* batch — applied to the parquet scan, oracle-checked against DuckDB
  (tumbling = epoch-aligned date_trunc; sliding = two shifted tumbling
  buckets; sessions = gaps-and-islands);
* streaming — the same builder applied to ``readStream`` with a
  watermark (see ``streaming_tumbling_counts`` and
  tests/test_streaming.py), giving late-data handling for free.

Spark's ``window()``/``session_window()`` are the engine-native
operators; the SQL mirrors prove the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.registry import register

SESSION_GAP = "30 minutes"
_FMT = "yyyy-MM-dd HH:mm:ss"


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time window aggregation (works on batch & stream).

    total_value routes through an exact DECIMAL sum before the 2-place
    round (value is a 6-decimal rational): a double sum accumulates in
    partition order, and a group whose exact sum sits on a .xx5 round-2
    tie can round differently across engines — the canon risk
    sliding_counts already defuses."""
    return (
        events.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.date_format("win.start", _FMT).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour window sliding every 30 minutes.

    The mean routes through an exact DECIMAL sum (value is a 6-decimal
    rational): plain avg(double) accumulates in partition order, and at
    larger SF a last-ulp difference vs the oracle's own order lands on a
    round(6) boundary. Exact sum → one double division → identical."""
    avg_exact = F.round(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
        / F.count(F.lit(1)),
        6,
    )
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), avg_exact.alias("avg_value"))
        .select(F.date_format("win.start", _FMT).alias("window_start"), "n", "avg_value")
    )


def session_windows(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.max("ts"), _FMT).alias("last_event"),
        )
        .select(
            "user_id",
            F.date_format("win.start", _FMT).alias("session_start"),
            "n_events",
            "last_event",
        )
    )


@register(
    "tumbling_window_counts",
    headline=True,
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows × event_type (batch mirror of the
    streaming aggregation — same builder)."""
    return tumbling_counts(load(spark, sf_dir).events)


@register(
    "sliding_window_counts",
    oracle="""
    WITH starts AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, value FROM events
    )
    SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
             AS avg_value
    FROM starts GROUP BY 1
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h width / 30m slide): every event lands in two
    windows; oracle mirrors via two shifted tumbling buckets."""
    return sliding_counts(load(spark, sf_dir).events)


@register(
    "session_window_stats",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_event
    FROM sessions GROUP BY user_id, session_id
    """,
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: native session_window (gap 30m), oracle-mirrored
    by the classic gaps-and-islands rewrite. Spark's session merge is
    one shuffle on user_id — the streaming-native operator the
    reference's row-loop world has no answer to."""
    return session_windows(load(spark, sf_dir).events)


def read_event_stream(
    spark: SparkSession, source_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming source over a directory of events parquet files (file
    streaming sources require a DIRECTORY; point it at an ingest drop
    folder in production) with ns→us normalization + watermark.

    Calls ``catalog.pin_oracle_confs`` itself on every call:
    normalize_events' NTZ→LTZ cast is only an identity under a UTC
    session, and a session that uses only the streaming path would
    otherwise depend on a batch-catalog side effect having run first."""
    from data_warehouse_data_mining_spark.catalog import (
        normalize_events,
        pin_oracle_confs,
        read_parquet,
    )

    pin_oracle_confs(spark)
    raw_schema = read_parquet(spark, source_dir).schema
    return normalize_events(
        spark.readStream.schema(raw_schema).parquet(source_dir)
    ).withWatermark("ts", watermark)


def streaming_tumbling_counts(
    spark: SparkSession, source_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """The SAME tumbling aggregation as a real streaming query: parquet
    source → watermark → windowed agg. Drive it with a memory sink +
    processAllAvailable() (see tests/test_streaming.py)."""
    return tumbling_counts(read_event_stream(spark, source_dir, watermark))


def ohlc_windowed(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """OHLC bars over event-time windows (works on batch & stream):
    open/close via min_by/max_by on a (ts, event_id) struct —
    deterministic tie-breaks, incrementally maintainable, so the SAME
    expression serves the batch rollup and the live streaming bar."""
    okey = F.struct("ts", "event_id")
    return (
        events.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.round(F.min_by("value", okey), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", okey), 2).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("win.start", _FMT).alias("window_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def streaming_ohlc(
    spark: SparkSession, source_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """ohlc_windowed as a live streaming query (parquet drop-folder
    source → watermark → windowed OHLC)."""
    return ohlc_windowed(read_event_stream(spark, source_dir, watermark))
