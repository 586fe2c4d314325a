"""db-copy composite program tests (SURVEY C2): topo order, catalog diff,
new/update/sync modes, rollback-by-default — mirroring the reference's
db_copy behavior (db_copy/main.py) on parquet directories."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMOKE


def test_topo_order_fk_first():
    from lwetl_spark.plans.db_copy import topo_order

    # orders references customer; lineitem references orders+part
    order = topo_order(
        ["lineitem", "orders", "customer", "part"],
        {"orders": {"customer"}, "lineitem": {"orders", "part"}},
    )
    assert order.index("customer") < order.index("orders") < order.index("lineitem")
    assert order.index("part") < order.index("lineitem")


def test_topo_order_cycle_breaks():
    from lwetl_spark.plans.db_copy import topo_order

    order = topo_order(["a", "b"], {"a": {"b"}, "b": {"a"}})
    assert sorted(order) == ["a", "b"]


@pytest.fixture()
def src_trg(spark, tmp_path):
    from lwetl_spark.catalog import load_table

    src = str(tmp_path / "src")
    trg = str(tmp_path / "trg")
    os.makedirs(src)
    os.makedirs(trg)
    for t in ("region", "nation"):
        load_table(spark, SF_SMOKE, t).write.parquet(os.path.join(src, f"{t}.parquet"))
    # target starts with a stale subset of nation
    nat = spark.read.parquet(os.path.join(src, "nation.parquet"))
    nat.filter("n_nationkey < 10").withColumn(
        "n_name", nat.n_name.substr(1, 1)
    ).write.parquet(os.path.join(trg, "nation.parquet"))
    return src, trg


def test_plan_copy_classification(spark, src_trg):
    from lwetl_spark.plans.db_copy import plan_copy

    src, trg = src_trg
    plan = plan_copy(spark, src, trg, fks={"nation": {"region"}})
    assert plan.common == ["nation"]
    assert plan.missing_in_target == ["region"]
    assert plan.order.index("region") < plan.order.index("nation")
    assert plan.counts["nation"] == (25, 10)


def test_db_copy_new_mode(spark, src_trg):
    from lwetl_spark.plans.db_copy import db_copy

    src, trg = src_trg
    stats = db_copy(
        spark, src, trg, pks={"region": "r_regionkey", "nation": "n_nationkey"},
        mode="new", fks={"nation": {"region"}}, activate=True,
    )
    assert stats["region"]["inserted"] == 5
    assert stats["nation"]["inserted"] == 15  # only missing keys appended
    nat = spark.read.parquet(os.path.join(trg, "nation.parquet"))
    assert nat.count() == 25
    # 'new' mode must NOT touch existing (stale) rows
    assert nat.filter("n_nationkey = 1").collect()[0]["n_name"] != \
        spark.read.parquet(os.path.join(src, "nation.parquet")).filter("n_nationkey = 1").collect()[0]["n_name"]


def test_db_copy_update_mode_fixes_stale(spark, src_trg):
    from lwetl_spark.plans.db_copy import db_copy

    src, trg = src_trg
    stats = db_copy(
        spark, src, trg, pks={"region": "r_regionkey", "nation": "n_nationkey"},
        mode="update", activate=True,
    )
    assert stats["nation"]["updated"] == 10 and stats["nation"]["inserted"] == 15
    nat = spark.read.parquet(os.path.join(trg, "nation.parquet"))
    src_nat = spark.read.parquet(os.path.join(src, "nation.parquet"))
    assert sorted(r["n_name"] for r in nat.collect()) == sorted(
        r["n_name"] for r in src_nat.collect()
    )


def test_db_copy_sync_deletes(spark, src_trg, tmp_path):
    from lwetl_spark.plans.db_copy import db_copy

    src, trg = src_trg
    # shrink source: sync must delete the extra target rows
    nat = spark.read.parquet(os.path.join(src, "nation.parquet"))
    small_src = str(tmp_path / "src2")
    os.makedirs(small_src)
    nat.filter("n_nationkey < 5").write.parquet(os.path.join(small_src, "nation.parquet"))
    stats = db_copy(
        spark, small_src, trg, pks={"nation": "n_nationkey"}, mode="sync", activate=True
    )
    assert stats["nation"]["deleted"] == 5
    assert spark.read.parquet(os.path.join(trg, "nation.parquet")).count() == 5


def test_db_copy_rollback_default(spark, src_trg):
    """activate=False (reference rollback-by-default): target unchanged."""
    from lwetl_spark.plans.db_copy import db_copy

    src, trg = src_trg
    db_copy(spark, src, trg, pks={"region": "r_regionkey", "nation": "n_nationkey"}, mode="new")
    nat = spark.read.parquet(os.path.join(trg, "nation.parquet"))
    assert nat.count() == 10


def test_plan_copy_counts_single_action(spark, tmp_path):
    """VERDICT r1 #9: plan_copy's per-table counts run as one
    union-aggregate action — zero DataFrame.count() calls, exactly one
    collect — and still produce correct per-table (src, trg) counts."""
    import os

    from lwetl_spark.plans.db_copy import plan_copy

    src = str(tmp_path / "src")
    trg = str(tmp_path / "trg")
    os.makedirs(src)
    os.makedirs(trg)
    spark.range(7).write.parquet(os.path.join(src, "a.parquet"))
    spark.range(3).write.parquet(os.path.join(src, "b.parquet"))
    spark.range(0).write.parquet(os.path.join(src, "c.parquet"))
    spark.range(2).write.parquet(os.path.join(trg, "a.parquet"))

    cls = type(spark.range(1))
    n_count, n_collect = [0], [0]
    orig_count, orig_collect = cls.count, cls.collect

    def spy_count(self):
        n_count[0] += 1
        return orig_count(self)

    def spy_collect(self):
        n_collect[0] += 1
        return orig_collect(self)

    cls.count, cls.collect = spy_count, spy_collect
    try:
        plan = plan_copy(spark, src, trg)
    finally:
        cls.count, cls.collect = orig_count, orig_collect

    assert n_count[0] == 0 and n_collect[0] == 1, (n_count, n_collect)
    assert plan.counts == {"a": (7, 2), "b": (3, 0), "c": (0, 0)}
    assert plan.empty_source == ["c"]


def _kv_tables(spark, tmp_path, src_rows, trg_rows):
    src = str(tmp_path / "src")
    trg = str(tmp_path / "trg")
    for d, rows in ((src, src_rows), (trg, trg_rows)):
        spark.createDataFrame(rows, "k int, v string").write.parquet(
            os.path.join(d, "t.parquet")
        )
    return src, trg


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()), key=repr)


def test_db_copy_sync_keeps_duplicate_target_keys(spark, tmp_path):
    """A key the target holds twice is still a key the source has: sync
    replaces both rows with the source row and deletes only key 3."""
    from lwetl_spark.plans.db_copy import db_copy

    src, trg = _kv_tables(
        spark, tmp_path, [(1, "a"), (2, "b")], [(1, "o"), (1, "o2"), (3, "g")]
    )
    stats = db_copy(spark, src, trg, pks={"t": "k"}, mode="sync", activate=True)
    assert stats["t"] == {"inserted": 1, "updated": 1, "deleted": 1, "skipped": 0}
    assert _rows(spark, os.path.join(trg, "t.parquet")) == [(1, "a"), (2, "b")]


def test_db_copy_sync_null_keys(spark, tmp_path):
    """Null keys never match: a null-key target row survives a sync and a
    null-key source row counts as inserted."""
    from lwetl_spark.plans.db_copy import db_copy

    src, trg = _kv_tables(
        spark, tmp_path, [(1, "a"), (None, "s")], [(1, "o"), (None, "t"), (3, "g")]
    )
    stats = db_copy(spark, src, trg, pks={"t": "k"}, mode="sync", activate=True)
    assert stats["t"] == {"inserted": 1, "updated": 1, "deleted": 1, "skipped": 0}
    assert _rows(spark, os.path.join(trg, "t.parquet")) == [
        (1, "a"), (None, "s"), (None, "t")
    ]


def test_db_copy_sync_rollback_stages_the_sync(spark, tmp_path):
    """activate=False stages exactly the table activate=True commits and
    leaves the live target untouched."""
    import shutil

    from lwetl_spark.plans.db_copy import db_copy

    src, trg = _kv_tables(spark, tmp_path, [(1, "new"), (2, "b")], [(1, "old"), (3, "gone")])
    live = os.path.join(trg, "t.parquet")
    before = _rows(spark, live)
    committed_dir = str(tmp_path / "committed")
    shutil.copytree(trg, committed_dir)

    staged_stats = db_copy(spark, src, trg, pks={"t": "k"}, mode="sync")
    committed_stats = db_copy(
        spark, src, committed_dir, pks={"t": "k"}, mode="sync", activate=True
    )
    assert staged_stats == committed_stats
    assert _rows(spark, live) == before == [(1, "old"), (3, "gone")]
    assert _rows(spark, live + ".staging") == [(1, "new"), (2, "b")]
    assert _rows(spark, os.path.join(committed_dir, "t.parquet")) == [(1, "new"), (2, "b")]


def test_plan_copy_ignores_rewrite_siblings(spark, tmp_path):
    """A leftover `<table>.parquet.new-*` directory is not a table."""
    from lwetl_spark.plans.db_copy import plan_copy

    src, trg = _kv_tables(spark, tmp_path, [(1, "a")], [(1, "o")])
    spark.range(3).write.parquet(os.path.join(trg, "t.parquet.new-x"))
    plan = plan_copy(spark, src, trg)
    assert plan.common == ["t"] and plan.missing_in_source == []
    assert plan.counts == {"t": (1, 1)}


#: Spark jobs of the src_trg sync, as measured: plan_copy's count, the
#: region copy, and the nation merge (its key and broadcast stages, and
#: the one write); every table read takes its schema from the footer
#: with no job
JOBS_PIN = 8


def test_db_copy_sync_work_pin(spark, src_trg):
    """The sync runs a bounded number of Spark jobs and writes the synced
    table exactly once, so a re-split of the merge plan fails here."""
    from lwetl_spark.plans.db_copy import db_copy

    src, trg = src_trg
    nation = os.path.join(trg, "nation.parquet")
    written = []
    writer = type(spark.range(1).write)
    orig = writer.parquet

    def spy(self, path, *a, **kw):
        written.append(path)
        return orig(self, path, *a, **kw)

    sc = spark.sparkContext
    group = "test_db_copy_sync_work_pin"
    writer.parquet = spy
    sc.setJobGroup(group, "db-copy sync")
    try:
        stats = db_copy(
            spark, src, trg, pks={"nation": "n_nationkey"}, mode="sync", activate=True
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        writer.parquet = orig
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert stats["nation"] == {"inserted": 15, "updated": 10, "deleted": 0, "skipped": 0}
    nation_writes = [p for p in written if p.startswith(nation)]
    assert len(nation_writes) == 1 and ".new-" in nation_writes[0], written
    assert len(jobs) <= JOBS_PIN, sorted(jobs)


def test_db_copy_opens_each_table_once(spark, src_trg, monkeypatch):
    """plan_copy opens each source table and each common target table
    once, with the schema from its footer; the copy loop and the
    Uploader reuse those frames instead of opening the tables again."""
    import importlib

    from lwetl_spark.operators import _fsutil
    from lwetl_spark.sinks import uploader

    dc = importlib.import_module("lwetl_spark.plans.db_copy")

    opened = []

    def spy(spark, path):
        opened.append(os.path.relpath(path, os.path.dirname(os.path.dirname(path))))
        return _fsutil.read_parquet(spark, path)

    monkeypatch.setattr(dc, "read_parquet", spy)
    monkeypatch.setattr(uploader, "read_parquet", spy)
    src, trg = src_trg
    pks = {"region": "r_regionkey", "nation": "n_nationkey"}
    dc.db_copy(spark, src, trg, pks, mode="new", activate=True)
    assert sorted(opened) == ["src/nation.parquet", "src/region.parquet", "trg/nation.parquet"]
    opened.clear()
    stats = dc.db_copy(spark, src, trg, pks, mode="sync", activate=True)
    assert sorted(opened) == [
        "src/nation.parquet", "src/region.parquet", "trg/nation.parquet", "trg/region.parquet"
    ]
    assert stats["nation"] == {"inserted": 0, "updated": 25, "deleted": 0, "skipped": 0}
