"""Write-path operators: the sink half of a 100 TB pipeline.

The reference only ever prints results (stroke_predict.py show()/
collect() edges); a real warehouse has to WRITE, and at scale the
write layout decides every downstream read's cost. Three layouts:

* ``write_partitioned`` — hive-style ``partitionBy`` with small-file
  control. The naive ``df.write.partitionBy(c)`` writes one file per
  (task, partition-value) pair — at 1000 executors × 1000 values that
  is a million tiny files, the classic small-files failure. Shuffling
  on the partition columns first makes each dynamic partition the
  output of as few tasks as possible; ``maxRecordsPerFile`` re-splits
  only where a partition is genuinely large.

* ``write_sorted_for_skipping`` — sort rows WITHIN files on the
  columns future queries filter by, so parquet row-group min/max
  stats actually prune. An unsorted file has every row group spanning
  the full value range (no skipping); a sorted one localizes each
  predicate to a few row groups.

* ``write_bucketed_table`` — ``bucketBy(n, key)`` + in-bucket sort,
  the co-located-join layout: two tables bucketed the same way join
  with ZERO exchange (tests/test_sinks.py pins that plan). This is
  the standing answer to "this join shuffles 100 TB every night".
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import parquet_files, read_parquet


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet write with bounded file counts: one
    shuffle on the partition columns co-locates each dynamic partition
    into one task (AQE coalesces small ones), and maxRecordsPerFile
    splits the genuinely large partitions instead of letting every
    task contribute a shard to every partition value."""
    (
        df.repartition(*[df[c] for c in partition_cols])
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_sorted_for_skipping(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet sorted on the expected filter columns so row-group
    min/max statistics prune reads. ``repartitionByRange`` gives
    globally range-partitioned files (file-level skipping via
    footers); ``sortWithinPartitions`` orders rows inside each file
    (row-group-level skipping)."""
    out = (
        df.repartitionByRange(n_files, *sort_cols)
        if n_files
        else df.repartitionByRange(*sort_cols)
    )
    out.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def write_with_bloom_filters(
    df: DataFrame,
    path: str,
    bloom_cols: Sequence[str],
    expected_ndv: int = 100_000,
    mode: str = "overwrite",
    options: dict[str, str] | None = None,
) -> None:
    """Write parquet with per-column BLOOM FILTERS for point-lookup
    skipping on high-cardinality columns that the sort order can't
    serve. Range-sorted layouts (write_sorted_for_skipping / z-order)
    prune range predicates on the SORT keys; a `WHERE key = x` lookup
    on any other column still reads every row group, because min/max
    stats on an unsorted high-cardinality column span everything. A
    bloom filter per row group answers "definitely absent" for exact
    equality — at 100 TB that turns a needle-in-haystack id lookup
    from a full scan into a handful of row groups, with ~1.2 bytes/ndv
    of footer overhead and zero read-path changes (parquet readers
    consult blooms transparently for = and IN predicates)."""
    w = df.write.mode(mode)
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv)
        )
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and in-bucket sorted) managed table.

    Both sides of a frequent join written with the SAME bucket spec
    join exchange-free: each task reads matching bucket files from
    both tables — at 100 TB that turns a nightly full-shuffle join
    into a local merge. Requires saveAsTable (bucket metadata lives in
    the catalog, not in parquet footers)."""
    w = df.write.mode(mode).option("path", path) if path else df.write.mode(mode)
    w = w.bucketBy(n_buckets, *bucket_cols)
    w = w.sortBy(*(sort_cols or bucket_cols))
    w.format("parquet").saveAsTable(table)


def compact_files(
    spark,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    mode: str = "overwrite",
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files and return the file count.

    The daily maintenance job of every streaming/incremental sink — a
    micro-batch writer leaves one file per trigger per partition, and a
    year of 30-second triggers is a million tiny files whose footer
    reads dominate scan time. Sizing from the ACTUAL byte size of the
    files the read will scan (not a guessed partition count; listed
    through Hadoop, so ``file://`` and remote roots count too) and
    using ``coalesce`` (a scan-side partition merge, NO shuffle) keeps
    the rewrite one pass over the data. Writes to a new directory: swap-on-success beats in-place
    rewrites that can destroy data on failure."""
    total = sum(f.getLen() for f in parquet_files(spark, path))
    n_files = max(1, -(-total // target_file_bytes))
    read_parquet(spark, path).coalesce(n_files).write.mode(mode).parquet(out_path)
    return n_files


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 16,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) layout: interleave the bits of the
    normalized sort columns so files/row-groups localize in EVERY one
    of them at once — the multi-column generalization of
    write_sorted_for_skipping, where a lexicographic sort only prunes
    on its leading column.

    Each column is min-max normalized to ``bits`` bits with one tiny
    aggregate (a 1-row broadcast — no driver round-trip of data), the
    bit-interleave is pure codegen integer ops, and the write is a
    single range-shuffle on the derived key. Linear normalization is
    the simple form; rank-based (sampled range boundaries, as
    repartitionByRange does internally) resists skew better at 100 TB
    and drops in by replacing the min/max scaling.
    """
    from functools import reduce

    m = len(cols)
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{j}") for j, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"mx_{j}") for j, c in enumerate(cols)],
    )
    with_stats = df.crossJoin(F.broadcast(stats))
    top = (1 << bits) - 1
    terms = []
    for j in range(m):
        mn, mx = F.col(f"mn_{j}"), F.col(f"mx_{j}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        norm = F.floor(
            (F.col(cols[j]).cast("double") - mn) / span * F.lit(top)
        ).cast("long")
        for i in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(norm, i).bitwiseAND(F.lit(1)), i * m + j
                )
            )
    zkey = reduce(lambda a, b: a.bitwiseOR(b), terms)
    (
        with_stats.withColumn("__zkey", zkey)
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey", *[f"mn_{j}" for j in range(m)], *[f"mx_{j}" for j in range(m)])
        .write.mode(mode)
        .parquet(path)
    )
