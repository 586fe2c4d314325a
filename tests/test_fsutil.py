"""The two checkpoint jobs `operators/_fsutil` owns: `materialize`
(an eager checkpoint whose row count comes from its own job) and
`replace_table` (overwrite a table whose plan reads it, through a
`.new-<uuid>` sibling and a rename)."""
import os

import pytest
from pyspark.sql import functions as F

from lwetl_spark.operators import _fsutil


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it submitted), by job-id window."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.numTotalJobs()
    out = fn()
    return out, dag.numTotalJobs() - first


def test_materialize_counts_in_the_checkpoint_job(spark):
    def plain():
        return spark.range(0, 1000, 1, 4).filter("id % 3 = 0")

    def join():
        return spark.range(1000).repartition(7).join(
            spark.range(0, 2000, 3).repartition(5), "id"
        )

    (df, n), jobs = _jobs(spark, lambda: _fsutil.materialize(plain()))
    assert n == 334 and jobs == 1
    assert df.count() == 334
    # no job beyond what the bare eager checkpoint of the same plan runs
    # (its join exchanges are jobs of their own under AQE)
    (df, n), jobs = _jobs(spark, lambda: _fsutil.materialize(join()))
    _, bare = _jobs(spark, lambda: join().localCheckpoint(eager=True))
    assert n == 334 and jobs == bare
    assert sorted(r.id for r in df.collect()) == list(range(0, 1000, 3))


@pytest.mark.parametrize("kind", ["range0", "empty", "empty_semi"])
def test_materialize_empty_frames_count_zero(spark, kind):
    df = {
        "range0": lambda: spark.range(0),
        "empty": lambda: spark.createDataFrame([], "id long"),
        "empty_semi": lambda: spark.range(50).join(
            spark.range(0), "id", "left_semi"
        ),
    }[kind]()
    out, n = _fsutil.materialize(df)
    assert n == 0 and out.count() == 0


def _siblings(path):
    name = os.path.basename(path)
    return [
        f for f in os.listdir(os.path.dirname(path))
        if f.startswith(name + ".new-") or f.startswith(name + ".old-")
    ]


def test_replace_table_reads_and_replaces_itself(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    cur = spark.read.schema("id long").parquet(path)
    _fsutil.replace_table(
        spark, cur.filter("id % 2 = 0").unionByName(spark.range(100, 103)), path
    )
    got = sorted(r.id for r in spark.read.schema("id long").parquet(path).collect())
    assert got == [0, 2, 4, 6, 8, 100, 101, 102]
    assert _siblings(path) == []


def test_replace_table_failed_write_keeps_the_old_table(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    cur = spark.read.schema("id long").parquet(path)
    bad = cur.select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        _fsutil.replace_table(spark, bad, path)
    got = sorted(r.id for r in spark.read.schema("id long").parquet(path).collect())
    assert got == list(range(10))
    assert _siblings(path) == []
