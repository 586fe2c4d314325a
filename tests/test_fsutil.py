"""The jobs `operators/_fsutil` owns: `materialize` (an eager
checkpoint whose row count comes from its own job), `replace_table`
(overwrite a table whose plan reads it, through a `.new-<uuid>` sibling
and a rename), and `read_parquet` (a parquet read whose schema comes
from one footer read on the driver, with no job)."""
import os
import re
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from lwetl_spark.operators import _fsutil
from tests.conftest import SF_SMOKE


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


def _tables(spark, root):
    """The table shapes `read_parquet` must read with the schema Spark
    itself infers, written under `root`: {name: path}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = {k: os.path.join(root, k) for k in ("flat", "hive", "appended", "arrow", "types")}
    spark.range(0, 40, 1, 3).selectExpr("id", "cast(id as string) s").write.parquet(out["flat"])
    spark.range(60).selectExpr("id", "id % 4 as bucket", "id / 3 as d").write.partitionBy(
        "bucket"
    ).parquet(out["hive"])
    # the second append adds a column; inference reads the path-first file
    spark.range(5).write.parquet(out["appended"])
    spark.range(5).selectExpr("id", "id * 2 as x").write.mode("append").parquet(out["appended"])
    os.makedirs(out["arrow"])
    pq.write_table(
        pa.table({
            "a": pa.array([1, 2], pa.int32()),
            "b": ["x", None],
            "t": pa.array([1, 2], pa.timestamp("us")),
            "l": pa.array([[1.5], []], pa.list_(pa.float64())),
        }),
        os.path.join(out["arrow"], "part-0.parquet"),
    )
    spark.sql(
        "SELECT CAST(id AS DECIMAL(12, 3)) AS dec, DATE'2020-01-02' + CAST(id AS INT) AS dt,"
        " TIMESTAMP'2020-01-02 03:04:05' AS ts, array(id, id + 1) AS arr,"
        " map('k', id) AS m, named_struct('x', id, 'y', CAST(id AS STRING)) AS st"
        " FROM range(3)"
    ).write.parquet(out["types"])
    return out


def test_read_parquet_schema_matches_inference_without_a_job(spark, tmp_path):
    for name, path in _tables(spark, str(tmp_path)).items():
        df, jobs = _jobs(spark, lambda: _fsutil.read_parquet(spark, path))
        assert jobs == 0, name
        assert df.schema == spark.read.parquet(path).schema, name
        # the data schema as inferred: no partition columns, and the
        # read (not inference) makes every field nullable
        data = [(f.name, f.dataType.simpleString()) for f in _fsutil.parquet_schema(spark, path)]
        read = [(f.name, f.dataType.simpleString()) for f in df.schema if f.name != "bucket"]
        assert data == read, name
    got = _fsutil.read_parquet(spark, os.path.join(tmp_path, "appended"))
    assert sorted(r.id for r in got.collect()) == sorted(list(range(5)) * 2)


def test_read_parquet_without_a_data_file_raises_like_the_bare_read(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    for path in (str(empty), str(tmp_path / "missing")):
        assert _fsutil.parquet_schema(spark, path) is None
        with pytest.raises(AnalysisException) as bare:
            spark.read.parquet(path)
        with pytest.raises(AnalysisException) as got:
            _fsutil.read_parquet(spark, path)
        assert got.value.getCondition() == bare.value.getCondition()
        assert str(got.value) == str(bare.value)


def test_read_parquet_falls_back_without_a_gateway(spark, tmp_path):
    """A session with no JVM gateway (Spark Connect) lets Spark infer."""

    class NoGateway:
        _jvm = None

        def __getattr__(self, name):
            return getattr(spark, name)

    path = str(tmp_path / "t")
    spark.range(7).selectExpr("id", "id * 2 AS y").write.parquet(path)
    assert _fsutil.parquet_schema(NoGateway(), path) is None
    df = _fsutil.read_parquet(NoGateway(), path)
    assert df.schema == spark.read.parquet(path).schema and df.count() == 7


def test_register_tables_runs_no_job(spark):
    from lwetl_spark.catalog import register_tables

    tables = ("region", "nation", "orders")
    out, jobs = _jobs(spark, lambda: register_tables(spark, SF_SMOKE, tables))
    assert sorted(out) == sorted(tables) and jobs == 0
    for t in tables:
        assert out[t].schema == spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").schema


def test_events_nanos_fallback_on_a_vanilla_session(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file on a session without nanosAsLong
    (the driver's vanilla session): the footer conversion rejects it,
    the bare read raises the NANOS error, and load_table's explicit
    long-typed schema takes over."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lwetl_spark.catalog import load_table

    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_001_000, 2_000], pa.timestamp("ns")),
        }),
        str(tmp_path / "events.parquet"),
    )
    vanilla = spark.newSession()
    vanilla.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert _fsutil.parquet_schema(vanilla, str(tmp_path / "events.parquet")) is None
    got = load_table(vanilla, str(tmp_path), "events")
    assert dict(got.dtypes) == {"event_id": "bigint", "ts": "timestamp"}
    assert [r.event_id for r in got.orderBy("event_id").collect()] == [1, 2]


def test_no_bare_parquet_read_in_the_package():
    """Every parquet read of a path goes through `_fsutil.read_parquet`
    (or pins its own schema); the one `mergeSchema` read is not bare."""
    pkg = Path(__file__).resolve().parent.parent / "lwetl_spark"
    bare = re.compile(r"\.read\s*\.\s*parquet\(")
    hits = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "_fsutil.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if bare.search(line.split("#")[0])
    ]
    assert hits == []


def test_job_census_labels_schema_inference(spark, tmp_path):
    import importlib.util

    tool = Path(__file__).resolve().parent.parent / "tools" / "job_census.py"
    spec = importlib.util.spec_from_file_location("job_census", tool)
    census = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(census)

    flat, wide = str(tmp_path / "flat"), str(tmp_path / "wide")
    spark.range(3).write.parquet(flat)
    # more partition directories than Spark lists serially (32): the
    # listing job is named like the inference job but describes itself
    spark.range(40).selectExpr("id", "id AS p").write.partitionBy("p").parquet(wide)
    _, _, rows = census.census(spark, lambda: spark.read.parquet(flat))
    assert [r["label"][0] for r in rows] == [census.INFERENCE]
    _, _, rows = census.census(spark, lambda: _fsutil.read_parquet(spark, flat))
    assert rows == []
    _, _, rows = census.census(spark, lambda: spark.read.parquet(wide))
    labels = sorted(r["label"][0][:7] for r in rows)
    assert labels == ["Listing", "schema-"]
    _, _, rows = census.census(spark, lambda: _fsutil.read_parquet(spark, wide))
    assert [r["label"][0][:7] for r in rows] == ["Listing"]
