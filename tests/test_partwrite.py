"""The partition-rewrite contract every persisted index's removal shares
(`operators/_partwrite.remove_keys`): the IVF cells, the PQ and IVFADC
codes/vectors, the LSH buckets/vectors and — through
`rewrite_partitions` — the text index's compaction."""
import os

from lwetl_spark.operators import _partwrite as _pw

DDL = "cid long, v string, part int"
ROWS = [(i, f"r{i}", i % 3) for i in range(12)]


def _files(path, part):
    d = f"{path}/part={part}"
    return sorted(
        (f, os.path.getmtime(os.path.join(d, f)))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.schema(DDL).parquet(path).collect())


def _remove(spark, path, ids):
    # an int-typed id column against the long key, as callers pass it
    ids_df = spark.createDataFrame([(int(i),) for i in ids], "vid int")
    table = spark.read.schema(DDL).parquet(path)
    _pw.remove_keys(spark, table, path, "cid", "part", _pw.id_set(ids_df))


def test_remove_keys_contract(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(ROWS, DDL).write.partitionBy("part").parquet(path)
    before = {p: _files(path, p) for p in range(3)}

    # (d) ids absent from the table change nothing
    _remove(spark, path, [100, 101])
    assert {p: _files(path, p) for p in range(3)} == before
    assert _rows(spark, path) == sorted(ROWS)

    # empty partition 0 (ids 0, 3, 6, 9), trim partition 1 (id 1)
    gone = {0, 3, 6, 9, 1}
    _remove(spark, path, sorted(gone) + [100])
    assert not os.path.isdir(f"{path}/part=0")  # (b) emptied dir deleted
    assert _files(path, 2) == before[2]  # (a) untouched files kept as-is
    assert _files(path, 1) != before[1]
    assert _rows(spark, path) == sorted(r for r in ROWS if r[0] not in gone)

    # (c) removing every id leaves a readable zero-row table that keeps
    # the data schema (an inferring read must still work)
    _remove(spark, path, range(12))
    left = spark.read.parquet(path)
    assert left.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in left.schema.fields] == [
        ("cid", "bigint"), ("v", "string"), ("part", "int"),
    ]
