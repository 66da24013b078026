"""SparkSession factory.

The reference boots a single-threaded local session with 4g driver
memory (reference: stroke_predict.py:16-20). Here the session is tuned
for the actual target — a multi-executor cluster — while remaining
correct on local[N]:

* AQE on: runtime coalescing of shuffle partitions, skew-join handling,
  and dynamic join-strategy switching — all essential at 100 TB where
  static planning over stale stats misjudges shuffle sizes.
* ``spark.sql.shuffle.partitions`` defaults to a small value suitable
  for local runs; on a real cluster AQE's coalescing makes the initial
  number mostly a ceiling.
* Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) exactly.
* Arrow enabled for all pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_session(
    app_name: str = "data_warehouse_data_mining_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    On a cluster, ``master`` comes from spark-submit; locally defaults
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    n_threads = _parse_local_threads(master)
    if shuffle_partitions is None:
        # local: ~cores; cluster masters fall back to a scale-friendly
        # default and rely on AQE coalescing.
        shuffle_partitions = n_threads if n_threads else 2048
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # events.parquet carries nanosecond timestamps, which Spark's
        # parquet reader refuses by default; read them as raw ns longs —
        # catalog.py converts to microsecond timestamps (same floor-
        # truncation DuckDB applies to ns).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def memo(spark: SparkSession, key: Hashable, build: Callable[[], T]) -> T:
    """Run ``build()`` once per (session, key) and return its result.

    The one store for driver artifacts (table handles, conf pin,
    footer-reader classes, fit samples, codebooks, yardsticks) lives in
    the session object's own ``__dict__``: a stopped session takes its
    artifacts with it, and a ``newSession()`` clone starts empty."""
    store = spark.__dict__.setdefault("_spark_graft_memo", {})
    if key not in store:
        store[key] = build()
    return store[key]


def _parse_local_threads(master: str) -> int | None:
    if master == "local":
        return 1
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return None
    return None
