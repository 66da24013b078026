"""Table catalog for the driver-provided warehouse tables.

Loads the TPC-H-ish star schema + events/documents/embeddings parquet
tables (TESTDATA.md) and registers them as temp views. Parquet is
self-describing, so the schema comes from the file's own footer
(unlike the reference's double-scanning ``inferSchema=True`` CSV reads,
stroke_predict.py:22-23). A bare ``spark.read.parquet`` still runs one
Spark job per table to read that footer; ``read_parquet`` reads it on
the driver instead, so opening a table schedules no job. Every parquet
read in the package goes through ``read_parquet`` (lint-enforced).

Scale notes: these are plain parquet scans — Catalyst gets full
predicate pushdown / column pruning / partition pruning. At 100 TB the
same code works against a partitioned table root; nothing here
materializes or collects.

DRIVER I/O SIDE EFFECT: opening a table lists its root and reads ONE
parquet footer (the first data file) on the driver, through the
session's Hadoop conf, so remote table roots work as before. The
footer is converted under the confs in force at that moment, which is
why the pin below runs before the first read.

SESSION SIDE EFFECT (deliberate, global): ``pin_oracle_confs`` sets
``spark.sql.session.timeZone=UTC`` and
``spark.sql.legacy.parquet.nanosAsLong=true`` on the session. The first
``Catalog.table`` call applies it once per session; timestamp
display/arithmetic semantics change for an externally built
SparkSession. This is the oracle contract (all results are compared
against DuckDB's naive-UTC timestamps) and every operator in this
package assumes it. The streaming path
(``streaming.windows.read_event_stream``) calls the same pin itself so
it does not depend on the batch catalog having run first.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass
from types import SimpleNamespace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_warehouse_data_mining_spark.session import memo

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def pin_oracle_confs(spark: SparkSession) -> None:
    """Pin the oracle contract's confs on ``spark``. events.parquet has
    carried INT64 TIMESTAMP(NANOS) in some testdata generations, which
    Spark rejects unless nanosAsLong is on; the UTC pin matches DuckDB's
    naive-UTC timestamps whatever the host session's timezone. Both
    confs are runtime-settable and session-scoped, so an externally
    built SparkSession (or a ``newSession()`` clone) gets them here
    rather than from session.py."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


@dataclass
class Catalog:
    """Lazy handle over one scale-factor directory of parquet tables."""

    spark: SparkSession
    sf_dir: str

    def table(self, name: str) -> DataFrame:
        """The table's DataFrame, built once per session.

        This reuses plan handles, not data: the DataFrame is an
        unexecuted plan over the parquet files and every action still
        reads them, but building one costs a driver-side footer read
        plus a file listing, no Spark job. Handles are keyed by session
        because a DataFrame carries the session that built it (temp
        views, confs).

        The confs are pinned once per session: if external code changes
        ``spark.sql.session.timeZone`` after the first call, later
        Catalogs inherit the drift. The handle also freezes the parquet
        FILE LISTING taken at its first read, so within one session a
        fresh Catalog over the same sf_dir does not see files added or
        replaced on disk. Regenerate data in a new session."""
        if name not in TABLE_NAMES:
            raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
        spark = self.spark
        memo(spark, ("oracle_confs",), lambda: pin_oracle_confs(spark))

        def read() -> DataFrame:
            df = read_parquet(spark, os.path.join(self.sf_dir, f"{name}.parquet"))
            return normalize_events(df) if name == "events" else df

        return memo(spark, ("table", os.path.abspath(self.sf_dir), name), read)

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view for ``spark.sql`` use."""
        for name in TABLE_NAMES:
            self.table(name).createOrReplaceTempView(name)


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a UTC TIMESTAMP (LTZ) whatever the file
    carries. Testdata generations differ: TIMESTAMP(NANOS) arrives as a
    raw ns long under nanosAsLong (floor-divide to µs — exactly how
    DuckDB truncates ns to its µs-precision TIMESTAMP), while
    TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as TIMESTAMP_NTZ
    (cast to LTZ — identity under the catalog's UTC session pin). A
    single arrival type keeps every downstream operator (window(),
    unix_micros, watermarks) on one code path. Applied by both the
    batch catalog and the streaming readers."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str | None = None) -> Catalog:
    return Catalog(spark, sf_dir or DEFAULT_SF_DIR)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    Spark's inference schedules a job just to read one footer. Here the
    driver reads the footer of the first data file itself and converts
    it with the converter inference runs, under the session's SQLConf,
    so nanosAsLong, TIMESTAMP_NTZ and Spark's own row-metadata schema
    come out as they would from inference. Partition columns of a
    hive-partitioned root are appended by the reader, as before. The
    returned DataFrame, its plan and its rows are the inferred read's.
    Like inference without ``mergeSchema``, it assumes every data file
    under ``path`` carries the first one's schema."""
    file, footer = next(_footers(spark, path), (None, None))
    if footer is None:
        raise FileNotFoundError(f"no parquet data file at {path}")
    jvm = _parquet_jvm(spark)
    converter = jvm.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf()  # type: ignore[attr-defined]
    )
    jschema = jvm.ParquetFileFormat.readSchemaFromFooter(
        jvm.Footer(file, footer), converter
    )
    schema = StructType.fromJson(json.loads(jschema.json()))
    return spark.read.schema(schema).parquet(path)


def _parquet_jvm(spark: SparkSession) -> SimpleNamespace:
    """The JVM classes the footer read calls, resolved once per session:
    py4j resolves a dotted class name with one round trip per package
    segment, which would otherwise cost more than the footer read."""

    def build() -> SimpleNamespace:
        jvm = spark._jvm  # type: ignore[attr-defined]
        hadoop = jvm.org.apache.parquet.hadoop
        sql = jvm.org.apache.spark.sql.execution.datasources.parquet
        return SimpleNamespace(
            Path=jvm.org.apache.hadoop.fs.Path,
            ParquetFileReader=hadoop.ParquetFileReader,
            Footer=hadoop.Footer,
            ParquetToSparkSchemaConverter=sql.ParquetToSparkSchemaConverter,
            ParquetFileFormat=sql.ParquetFileFormat,
        )

    return memo(spark, ("parquet_jvm",), build)


def parquet_files(
    spark: SparkSession, path: str, conf: Any = None
) -> Iterator[Any]:
    """Yield the Hadoop ``FileStatus`` of every data file under ``path``
    — a file, a directory or a glob, local or remote — lazily, in name
    order. Listing goes through Hadoop's FileSystem with ``conf`` (by
    default the session's Hadoop conf), and hides what Spark's file
    index hides: names starting with ``.`` or ``_`` (``_SUCCESS``,
    ``.crc``, ``_temporary``) unless the name is a ``k=v`` partition."""
    jvm = _parquet_jvm(spark)
    if conf is None:
        state = spark._jsparkSession.sessionState()  # type: ignore[attr-defined]
        conf = state.newHadoopConf()
    root = jvm.Path(path)
    fs = root.getFileSystem(conf)
    stack = list(fs.globStatus(root) or [])[::-1]
    while stack:
        status = stack.pop()
        if not status.isDirectory():
            yield status
            continue
        children = {
            c.getPath().getName(): c for c in fs.listStatus(status.getPath())
        }
        stack.extend(
            children[n]
            for n in sorted(children, reverse=True)
            if not (n.startswith(".") or (n.startswith("_") and "=" not in n))
        )


def _footers(spark: SparkSession, path: str) -> Iterator[tuple[Any, Any]]:
    """Yield (Hadoop Path, parquet-mr footer) of every ``parquet_files``
    entry under ``path``."""
    jvm = _parquet_jvm(spark)
    state = spark._jsparkSession.sessionState()  # type: ignore[attr-defined]
    conf = state.newHadoopConf()
    for status in parquet_files(spark, path, conf):
        file = status.getPath()
        yield file, jvm.ParquetFileReader.readFooter(conf, file)


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of one catalog table from parquet FOOTER metadata
    only — no Spark job, no data pages read. Used by operators that
    auto-size from the corpus count (simhash128 banding) so sizing does
    not cost an extra scan per invocation; on a real cluster the same
    footers back the count, so this stays cheap at any scale. Sums the
    row groups of every data file ``read_parquet`` would list."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return sum(
        block.getRowCount()
        for _file, footer in _footers(spark, path)
        for block in footer.getBlocks()
    )
