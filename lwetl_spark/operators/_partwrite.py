"""The partition-rewrite path shared by every persisted index's
maintenance passes: the text index's postings/df buckets
(``retrieval.compact_text_index``), the IVF cells, the PQ codes and
vectors, the IVFADC codes and vectors (``ivfpq.py``) and the LSH
buckets and vectors (``similarity.py``).

:func:`remove_keys` is the whole removal: locate the partitions holding
a removed key, anti-join them, then :func:`rewrite_partitions`.  That
rewrite follows two scale-safety rules:

1. **Never mutate the session-global ``partitionOverwriteMode``.** A
   concurrent job on the same SparkSession could observe the wrong mode
   mid-write — clobbering unaffected partitions under an unexpected
   ``static``, or stranding removed rows under an unexpected
   ``dynamic``. ``DataFrameWriter.option("partitionOverwriteMode", ...)``
   scopes the mode to the one write (public since Spark 2.4), so there
   is no set/restore window at all.
2. **A partition emptied by a removal is deleted directly** (Hadoop
   FileSystem delete of its directory) instead of escalating to a full
   static rewrite of the table. Dynamic overwrite cannot delete a
   partition it writes no rows for — but a full rewrite turns "bounded
   partition rewrites" into a full-corpus checkpoint + rewrite at the
   100 TB scale these indexes are designed for, and the lineage
   truncation of that checkpoint makes an executor loss mid-write
   unrecoverable. Deleting the emptied directories keeps the write
   delta-sized no matter how the removal set lands.

If a removal empties the ENTIRE table, the directory would hold no
parquet footers and every later read would fail schema inference;
:func:`write_empty_partition` parks one zero-row, footer-only file in a
partition directory so the table stays readable (and later appends into
the same partition are unaffected — the sentinel simply contributes no
rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lwetl_spark.operators._fsutil import remove_path


def dynamic_overwrite(
    frame: DataFrame, path: str, part_col: str, repartition: bool = False
) -> None:
    """Overwrite ONLY the partitions present in ``frame`` (per-write
    dynamic mode — the session conf is never touched)."""
    w = frame.repartition(part_col) if repartition else frame
    (
        w.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )


def delete_partition_dirs(spark, path: str, part_col: str, values) -> None:
    """Remove ``{path}/{part_col}={v}`` directories outright — the only
    way to retire a partition a dynamic overwrite wrote no rows for,
    without rewriting the rest of the table. Works on any Hadoop
    filesystem (local, HDFS, object stores with a Hadoop connector)."""
    for v in values:
        remove_path(spark, f"{path}/{part_col}={v}")


def write_empty_partition(
    spark, path: str, part_col: str, part_value, schema
) -> None:
    """Park one zero-row parquet file (footer only) inside a partition
    directory so a fully-emptied table keeps a readable schema.
    ``schema`` is the DATA schema (without the partition column — that
    comes from the directory name, exactly as for real rows)."""
    (
        spark.createDataFrame([], schema)
        .repartition(1)
        .write.mode("overwrite")
        .parquet(f"{path}/{part_col}={part_value}")
    )


def id_set(ids: DataFrame) -> DataFrame:
    """The distinct ids of a one-column frame as column ``id``, eagerly
    checkpointed: every locate and anti-join of one removal reads the
    same fixed set, however the caller's frame was derived."""
    return (
        ids.select(F.col(ids.columns[0]).alias("id"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def rewrite_partitions(
    spark,
    frame: DataFrame,
    table: DataFrame,
    path: str,
    part_col: str,
    affected,
    repartition: bool = False,
) -> None:
    """Make the ``affected`` partitions of the table at ``path`` hold
    exactly ``frame``'s rows: partitions ``frame`` has rows for are
    dynamic-overwritten, the rest of ``affected`` have their directories
    deleted, and a table left with no partition at all gets one zero-row
    footer (schema ``frame`` minus ``part_col``).  ``table`` is a read of
    the table taken before this call; ``frame`` must not depend on a
    live scan of ``path`` (checkpoint it), or the overwrite races it."""
    present = {r[part_col] for r in frame.select(part_col).distinct().collect()}
    emptied = set(affected) - present
    if emptied:
        # collect BEFORE any write: the table's file listing is a
        # read-time snapshot and the overwrite deletes old files
        survivors = {
            r[part_col] for r in table.select(part_col).distinct().collect()
        } - emptied
    if present:
        dynamic_overwrite(frame, path, part_col, repartition)
    if emptied:
        delete_partition_dirs(spark, path, part_col, sorted(emptied))
        if not survivors:
            write_empty_partition(
                spark, path, part_col, min(emptied), frame.drop(part_col).schema
            )


def remove_keys(
    spark, table: DataFrame, path: str, key: str, part_col: str, ids: DataFrame
) -> None:
    """Remove the rows of ``table`` (a read of ``path``) whose ``key`` is
    in ``ids`` (an :func:`id_set` frame), rewriting only the partitions
    that held one.  Cost: one (key, part_col)-pruned locate, an eager
    checkpoint of the affected partitions' kept rows, then
    :func:`rewrite_partitions`."""
    keys = ids.withColumnRenamed("id", key)
    affected = [
        r[part_col]
        for r in table.select(key, part_col)
        .join(keys, key, "left_semi")
        .select(part_col)
        .distinct()
        .collect()
    ]  # bounded: one value per partition of the table
    if not affected:
        return
    kept = (
        table.filter(F.col(part_col).isin(affected))
        .join(keys, key, "left_anti")
        # eager: the overwrite must not race its own scan
        .localCheckpoint(eager=True)
    )
    rewrite_partitions(spark, kept, table, path, part_col, affected)


def cluster_for_write(
    df: DataFrame,
    part_col: str,
    threshold: int = 8,
    salt_col: str | None = None,
    salt_per_value: int | None = None,
) -> DataFrame:
    """Cluster a to-be-hive-partitioned frame by its partition column
    when — and only when — it has enough input partitions for the
    tasks × partition-values sliver explosion to matter (guide §6's
    distribution-mode rule).  Below the threshold a write produces at
    most ``threshold`` files per partition directory and the clustering
    exchange (which must move the full payload, e.g. array<double>
    vectors) costs more than the footers it saves; above it — every
    corpus-sized build at real scale — the exchange is mandatory or the
    write emits tasks × values files whose parquet footers dominate
    later reads.  Row content is partitioning-invariant (same rows,
    different file layout), so results are identical either way.

    ``salt_col``/``salt_per_value`` (r12, ADVICE r11): when the
    partition column's cardinality is a small constant (e.g. LSH's
    num_tables=12) a plain ``repartition(part_col)`` caps write
    parallelism at that constant — a corpus-sized table written by ≤12
    tasks at 100 TB.  With a salt, rows cluster by (part_col,
    hash(salt_col) % salt_per_value): each directory still prunes
    whole for readers, but is written by up to ``salt_per_value``
    tasks.  ``salt_per_value=None`` derives it from the input split
    count (``max(1, have // distinct-part-values)`` is the caller's
    job — pass the number), so file counts stay proportional to data
    size."""
    try:
        have = df.rdd.getNumPartitions()
    except Exception:  # Spark Connect: no RDD surface — cluster (safe)
        have = threshold + 1
    if have <= threshold:
        return df
    if salt_col is None or (salt_per_value or 0) <= 1:
        return df.repartition(part_col)
    return df.repartition(
        F.col(part_col),
        F.pmod(F.xxhash64(salt_col), F.lit(int(salt_per_value))),
    )
