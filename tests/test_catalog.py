"""catalog.read_parquet: table handles from driver-side parquet footers.
The schema must equal Spark's own inference for every layout the
package reads (single files, Spark-written and pyarrow-written
directories, hive partitions), and opening the catalog must schedule no
Spark job."""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_warehouse_data_mining_spark.catalog import (
    TABLE_NAMES,
    load,
    normalize_events,
    read_parquet,
    table_rows,
)

from .conftest import SF_SMALL


def _sorted_rows(df):
    return sorted(df.collect(), key=repr)


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_table_schema_equals_inference(spark, name):
    inferred = spark.read.parquet(os.path.join(SF_SMALL, f"{name}.parquet"))
    if name == "events":
        inferred = normalize_events(inferred)
    assert load(spark, SF_SMALL).table(name).schema == inferred.schema


def test_loading_the_catalog_schedules_no_job(spark):
    """Spark's schema inference runs one job per table to read a footer;
    the catalog reads it on the driver. A fresh session has no memoized
    handles, so all 10 tables are opened here."""
    fresh = spark.newSession()
    sc = spark.sparkContext
    group = "test_catalog:load"
    sc.setJobGroup(group, group)
    try:
        cat = load(fresh, SF_SMALL)
        for name in TABLE_NAMES:
            cat.table(name)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert jobs == [], f"opening the catalog ran jobs {jobs}"


def test_pyarrow_directory_with_hidden_files(spark, tmp_path):
    """Two pyarrow part files with a TIMESTAMP(NANOS) column, plus the
    `_SUCCESS` marker and a dot-file that is not parquet at all: both
    must be skipped, and nanosAsLong must turn the column into a
    bigint exactly as inference does."""
    root = tmp_path / "documents.parquet"
    root.mkdir()
    parts = [
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "ts": pa.array([i * 1_000_000_007 for i in ids], pa.timestamp("ns")),
        })
        for ids in ([1, 2, 3], [4, 5])
    ]
    for i, part in enumerate(parts):
        pq.write_table(part, root / f"part-{i:05d}.parquet")
    (root / "_SUCCESS").write_bytes(b"")
    (root / ".hidden").write_bytes(b"not parquet")

    got = read_parquet(spark, str(root))
    inferred = spark.read.parquet(str(root))
    assert got.schema == inferred.schema
    assert dict(got.dtypes)["ts"] == "bigint"
    assert _sorted_rows(got) == _sorted_rows(inferred)
    assert table_rows(spark, str(tmp_path), "documents") == sum(
        p.num_rows for p in parts
    )


def test_hive_partitioned_directory(spark, tmp_path):
    path = str(tmp_path / "partitioned")
    spark.range(20).selectExpr(
        "id", "id % 3 AS k", "CAST(id AS STRING) AS s"
    ).write.partitionBy("k").parquet(path)

    got = read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert got.columns[-1] == "k"


def test_empty_directory_names_the_path(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    with pytest.raises(FileNotFoundError, match=re.escape(str(empty))):
        read_parquet(spark, str(empty))
