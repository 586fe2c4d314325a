"""Partitioned parquet table sink — the on-disk layout that makes
100 TB scans affordable.

The reference writes rows into RDBMS tables and relies on indexes; the
Spark-native equivalent is hive-style directory partitioning: a query
filtering on the partition column never opens non-matching files
(partition pruning — `PartitionFilters` in the scan, pinned by
tests/test_plans.py::test_partition_pruning).

`write_partitioned` also bounds file counts: a repartition on the
partition columns before the write yields one file per partition value
per shuffle partition instead of `input_partitions × values` tiny files
(the classic small-files failure at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lwetl_spark.operators._fsutil import read_parquet


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = 5_000_000,
) -> None:
    """Write a hive-partitioned parquet table.

    Pre-shuffling on the partition columns co-locates each partition
    value's rows, so every task writes whole files for few values —
    bounded file counts and full-size row groups.
    """
    writer = df.repartition(*[F.col(c) for c in partition_by]).write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.partitionBy(*partition_by).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read back a partitioned table (partition columns reconstructed
    from directory names)."""
    return read_parquet(spark, path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_by: list[str],
    num_buckets: int = 32,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (hash-clustered) table registered in the session
    catalog as an external table at `path`.

    Bucketing pre-shuffles the table ON DISK: two tables bucketed on the
    same key with the same bucket count join with ZERO exchanges (pinned
    by tests/test_plans.py::test_bucketed_join_no_shuffle).  At 100 TB
    this converts every recurring fact-fact join on the bucket key from
    a full shuffle of both sides into a local zip of bucket files — the
    single biggest cost lever for repeated pipelines.
    """
    writer = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(num_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> dict:
    """Rewrite a parquet directory into ~`target_file_bytes` files — the
    small-files maintenance pass (streaming sinks, per-batch appends and
    over-parallel writes all fragment tables; at 100 TB a million 1 MB
    files turns scan planning and NameNode/object-store listing into the
    bottleneck long before I/O does).

    Scale design: file sizing derives from the ACTUAL on-disk byte size
    (`coalesce(ceil(bytes / target))`), not row counts.  `coalesce` (not
    `repartition`) merges existing partitions WITHOUT a shuffle — each
    output task concatenates a handful of input files; row order within
    files is irrelevant to parquet scan performance.  The rewrite stages
    into a sibling temp dir then atomically swaps, so readers never see
    a half-compacted table.  Returns {files_before, files_after,
    bytes, target_files}.

    Production note: on object stores the swap is two renames; an ACID
    table format (Delta/Iceberg OPTIMIZE) does this transactionally —
    this operator is the format-free equivalent, and the docstring IS
    the gate: with Delta jars present, prefer `OPTIMIZE`.
    """
    import glob
    import os
    import shutil

    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    total = sum(os.path.getsize(f) for f in files)
    if len(files) < min_files_to_compact:
        return {
            "files_before": len(files),
            "files_after": len(files),
            "bytes": total,
            "target_files": len(files),
        }
    n_out = max(1, -(-total // target_file_bytes))  # ceil
    tmp = path.rstrip("/") + "._compact_tmp"
    read_parquet(spark, path).coalesce(int(n_out)).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "._compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = len(
        [
            f
            for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if os.path.isfile(f)
        ]
    )
    return {
        "files_before": len(files),
        "files_after": after,
        "bytes": total,
        "target_files": int(n_out),
    }
