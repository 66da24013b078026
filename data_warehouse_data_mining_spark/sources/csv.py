"""CSV ingestion with explicit schemas and sentinel handling.

The reference reads CSV with ``inferSchema=True`` (stroke_predict.py:
22-23) — a double scan, and the reason its ``bmi`` column arrives as
string (missing values are the literal text "N/A", nb:cell1 output).
Here:

* explicit ``StructType`` → single scan, stable types at any scale;
* ``nullValue`` turns sentinels into real NULLs at parse time, so the
  downstream when/otherwise repair (stroke_predict.py:49-53) reduces to
  a principled Imputer pass (ml/prep.py);
* an inference fallback is kept for exploration but flagged as the
  non-production path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_warehouse_data_mining_spark.catalog import read_parquet


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    null_value: str | None = "N/A",
    header: bool = True,
) -> DataFrame:
    reader = spark.read.option("header", header)
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # exploration fallback — double-scans the file; pass a schema in
        # anything that runs at scale
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


# Schema of the reference's dataset shape (FIXTURES.md §A) — used by the
# golden-parity tests to reproduce the reference pipeline's semantics.
STROKE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("gender", T.StringType()),
        T.StructField("age", T.DoubleType()),
        T.StructField("hypertension", T.IntegerType()),
        T.StructField("heart_disease", T.IntegerType()),
        T.StructField("ever_married", T.StringType()),
        T.StructField("work_type", T.StringType()),
        T.StructField("Residence_type", T.StringType()),
        T.StructField("avg_glucose_level", T.DoubleType()),
        T.StructField("bmi", T.DoubleType()),
        T.StructField("smoking_status", T.StringType()),
        T.StructField("stroke", T.IntegerType()),
    ]
)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """Parquet sink; partition columns give scan-time partition pruning
    at scale."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_parquet(
    spark, src_dir: str, dst_dir: str, target_files: int, sort_by: list[str] | None = None
) -> None:
    """Small-files compaction: rewrite a parquet directory into
    ``target_files`` files, optionally sorted for min/max row-group
    pruning. The small-files problem is the top operational issue of
    long-running ingestion at scale — every downstream scan pays per-file
    open cost until someone compacts."""
    df = read_parquet(spark, src_dir)
    if sort_by:
        df = df.repartitionByRange(target_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.coalesce(target_files)
    df.write.mode("overwrite").parquet(dst_dir)
