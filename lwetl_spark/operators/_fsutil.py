"""Shared filesystem and materialization helpers.

- `path_exists` probes an optional index artifact (params sidecar,
  docbuckets sidecar, state snapshot) by EXISTENCE through the Hadoop
  FileSystem API; the caller then reads it unguarded, so a genuine read
  error on an existing path (corrupt parquet, permissions) propagates
  with its own stack trace instead of being rerouted into the
  absent-artifact path by a try-read-and-swallow.
- `materialize` takes an eager `localCheckpoint` and returns the row
  count observed inside that same job.
- `replace_table` overwrites a table whose plan may read it: the frame is
  written to a `<path>.new-<uuid>` sibling and committed by rename
  (`swap_in`), so no job reads and overwrites one directory and a failed
  write leaves the old table in place.
- `parquet_schema` computes on the driver, from one footer, the schema
  Spark's inference job would infer for a parquet path; `read_parquet`
  reads the path with that schema pinned, so opening a table runs no
  job.  Both fall back to Spark's own inference when they cannot.
"""

from __future__ import annotations

import json
import uuid

#: summary files Spark's inference prefers to any data file
_SUMMARIES = ("_metadata", "_common_metadata")


def _hadoop(spark, path: str):
    """(FileSystem, Path) for `path` under the session's Hadoop conf."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def path_exists(spark, path: str) -> bool:
    """Existence probe via the Hadoop FileSystem API — works on any FS
    the session can read (local, HDFS, object stores) WITHOUT the
    try-read-and-swallow idiom, whose caught first-read probe of a
    not-yet-existing path used to splash a benign Spark stack trace
    into bench/driver logs (VERDICT r6 nit #3).  Falls back to a probe
    read only if the JVM gateway is unavailable (non-classic
    sessions)."""
    try:
        fs, hpath = _hadoop(spark, path)
        return bool(fs.exists(hpath))
    except Exception:
        try:
            spark.read.parquet(path)
            return True
        except Exception:
            return False


def remove_path(spark, path: str) -> None:
    """Recursive delete via the Hadoop FileSystem API; a missing path is
    not an error."""
    fs, hpath = _hadoop(spark, path)
    fs.delete(hpath, True)


def swap_in(spark, new_path: str, path: str) -> None:
    """Commit a fully written `new_path` as `path` by two renames: the
    live `path` moves aside to `<path>.old-<uuid>`, `new_path` takes its
    name, then the old directory is deleted.  Readers see either the old
    table or the new one, never a half-written directory; if the second
    rename fails the old table is moved back before raising."""
    fs, dst = _hadoop(spark, path)
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    new = hpath(new_path)
    old = hpath(f"{path.rstrip('/')}.old-{uuid.uuid4().hex}")
    if fs.exists(dst) and not fs.rename(dst, old):
        raise OSError(f"cannot move {path} aside for the commit")
    if not fs.rename(new, dst):
        fs.rename(old, dst)
        raise OSError(f"cannot rename {new_path} to {path}")
    fs.delete(old, True)


def replace_table(spark, df, path: str) -> None:
    """Overwrite the table at `path` with `df`, which may read `path`
    itself: write `<path>.new-<uuid>` once, then `swap_in`.  The sibling
    is removed whether or not the commit happened.  The name never ends
    in `.parquet`, so table listings (db-copy) ignore a leftover one."""
    new = f"{path.rstrip('/')}.new-{uuid.uuid4().hex}"
    try:
        df.write.parquet(new)
        swap_in(spark, new, path)
    finally:
        remove_path(spark, new)


def materialize(df):
    """`(checkpoint, n)`: an eager `localCheckpoint` of `df` and its row
    count.  The count is an `Observation` on the checkpointed plan, so
    it comes from the checkpoint's own job; a later `count()` of the
    checkpoint would cost another job or two."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    return out, obs.get["n"]


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (`HadoopFSUtils.shouldFilterOutPathName`,
    less the summary files, which the caller handles)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _names(spark, statuses) -> list[str]:
    """The names of a listing, in its order, from one gateway reply: the
    JVM joins the paths and strips their directories.  (One call per
    entry costs more than the inference job on a 256-bucket root, and a
    py4j reply over 8 KiB stalls ~40 ms, so full paths are not sent.)"""
    jvm = spark._jvm
    paths = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(
        jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(statuses)
    )
    joined = paths.addString(jvm.scala.collection.mutable.StringBuilder(), "\n")
    return (
        jvm.java.util.regex.Pattern.compile("(?m)^.*/")
        .matcher(joined)
        .replaceAll("")
        .split("\n")
    )


def _first_data_file(spark, path: str):
    """The FileStatus of the file Spark's schema inference reads for
    `path` — the first data file in path order — or None when there is
    none, when a summary file would take precedence, or when `path` is a
    glob.  Only the path-first entry of each level is descended into;
    a directory sorts as `name + "/"`, as its files' paths do."""
    if any(c in path for c in "{}[]*?\\"):
        return None
    fs, cur = _hadoop(spark, path)
    while True:
        children = fs.listStatus(cur)
        n = len(children)
        names = _names(spark, children) if n else []
        if len(names) != n:
            return None
        best = None  # (sort key, status, is a directory)
        for i in sorted(range(n), key=names.__getitem__):
            name = names[i]
            if best is not None and best[0] <= name:
                break  # a later name's key is >= the name itself
            if name.startswith(_SUMMARIES):
                return None
            if _hidden(name):
                continue
            st = children[i]
            is_dir = st.isDirectory()
            key = name + "/" if is_dir else name
            if best is None or key < best[0]:
                best = (key, st, is_dir)
        if best is None:
            return None
        if not best[2]:
            return best[1]
        cur = best[1].getPath()


def parquet_schema(spark, path: str):
    """The data schema Spark's parquet inference returns for `path`
    (the file columns; the read adds partition columns and makes every
    field nullable), computed on the driver with no Spark job: the footer
    of the file the inference job would read goes through
    `ParquetFileFormat.readSchemaFromFooter` with a converter built from
    the session's SQL conf — the function that job runs.  None when there
    is no data file, no JVM gateway or any failure on the way; the
    caller then lets Spark infer."""
    from pyspark.sql import types as T

    try:
        status = _first_data_file(spark, path)
        if status is None:
            return None
        jvm = spark._jvm
        pq = jvm.org.apache.parquet
        meta = pq.hadoop.ParquetFileReader.readFooter(
            spark._jsc.hadoopConfiguration(),
            status,
            pq.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
        fmt = jvm.org.apache.spark.sql.execution.datasources.parquet
        schema = fmt.ParquetFileFormat.readSchemaFromFooter(
            pq.hadoop.Footer(status.getPath(), meta),
            fmt.ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf()),
        )
        return T.StructType.fromJson(json.loads(schema.json()))
    except Exception:
        return None


def read_parquet(spark, path: str):
    """`spark.read.parquet(path)` with the schema pinned from
    `parquet_schema`, so no inference job runs; the bare read when no
    schema could be computed, so errors (a missing path, a directory
    with no data file) are Spark's own."""
    schema = parquet_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)
