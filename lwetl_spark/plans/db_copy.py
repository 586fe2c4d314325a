"""db-copy (SURVEY C2): cross-database table synchronization.

Reference: lwetl/programs/db_copy/main.py — introspect both sides, count
tables, classify common/empty/missing (:180-210), FK-aware topological
copy order (`referring_tables` fixpoint, :30-52, 213-224), then per table:
anti-join insert / semi-join update / except-delete with modes
empty|new|update|sync (cmdline.py:19-28), rollback-by-default.

Spark re-design: a "database" is a directory of parquet tables.  Per
table the whole row-at-a-time loop collapses to:
- new:    src ⟕anti trg on pk → append        (reference :260-299)
- update: merge (replace matched, append new)  (reference :296-315)
- sync:   the same merge, also dropping target rows whose key the
          source lacks                         (reference :362-391)
update and sync are ONE `Uploader.merge` call: one plan, written once
and committed by rename, with the inserted/updated/deleted counts
observed on the write itself.
FK topo ordering is plan-level engine logic (Kahn), only meaningful when
the target enforces FKs (foreign JDBC sinks) — parquet doesn't, but the
plan order is still produced for parity and for JDBC targets.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from lwetl_spark.operators._fsutil import read_parquet
from lwetl_spark.sinks.uploader import Uploader, WritePolicy


def topo_order(tables: list[str], fks: dict[str, set[str]]) -> list[str]:
    """Kahn topological sort: referenced tables first (the reference's
    `referring_tables` fixpoint loop, db_copy/main.py:30-52, 213-224).
    `fks[t]` = set of tables t references.  Cycles (incl. self-FKs, which
    the reference calls out as 'very slow') break by name order."""
    remaining = set(tables)
    deps = {t: {d for d in fks.get(t, set()) if d in remaining and d != t} for t in remaining}
    order: list[str] = []
    while remaining:
        ready = sorted(t for t in remaining if not deps[t] & remaining)
        if not ready:  # cycle: break deterministically
            ready = [min(remaining)]
        for t in ready:
            order.append(t)
            remaining.discard(t)
    return order


@dataclass
class DbCopyPlan:
    common: list[str] = field(default_factory=list)
    missing_in_target: list[str] = field(default_factory=list)
    missing_in_source: list[str] = field(default_factory=list)
    empty_source: list[str] = field(default_factory=list)
    order: list[str] = field(default_factory=list)
    counts: dict[str, tuple[int, int]] = field(default_factory=dict)
    #: the frames the counts were taken over, by table; the copy reuses
    #: them instead of opening each table again
    sources: dict[str, DataFrame] = field(default_factory=dict)
    targets: dict[str, DataFrame] = field(default_factory=dict)


def _tables_in(path: str) -> list[str]:
    return sorted(
        f[: -len(".parquet")] for f in os.listdir(path) if f.endswith(".parquet")
    )


def plan_copy(
    spark: SparkSession,
    src_dir: str,
    trg_dir: str,
    fks: dict[str, set[str]] | None = None,
) -> DbCopyPlan:
    """Catalog diff + copy order (reference db_copy/main.py:180-233).

    Per-table source/target counts run as ONE union-aggregate job
    (VERDICT r1 #9) instead of 2 jobs per table: every table contributes
    a zero-column scan tagged (tbl, side), the groupBy is map-side
    combinable, and wide schemas cost nothing because column pruning
    leaves only the count.  (The reference counts both sides client-side
    per table, db_copy/main.py:186-189.)"""
    from functools import reduce

    from pyspark.sql import functions as F

    src_tables = _tables_in(src_dir)
    trg_tables = _tables_in(trg_dir) if os.path.isdir(trg_dir) else []
    plan = DbCopyPlan()
    plan.common = [t for t in src_tables if t in trg_tables]
    plan.missing_in_target = [t for t in src_tables if t not in trg_tables]
    plan.missing_in_source = [t for t in trg_tables if t not in src_tables]
    parts = []
    for t in src_tables:
        plan.sources[t] = read_parquet(spark, os.path.join(src_dir, f"{t}.parquet"))
        parts.append(plan.sources[t].select(F.lit(t).alias("tbl"), F.lit("src").alias("side")))
        if t in plan.common:
            plan.targets[t] = read_parquet(spark, os.path.join(trg_dir, f"{t}.parquet"))
            parts.append(
                plan.targets[t].select(F.lit(t).alias("tbl"), F.lit("trg").alias("side"))
            )
    counted: dict[tuple[str, str], int] = {}
    if parts:
        u = reduce(lambda a, b: a.unionByName(b), parts)
        counted = {
            (r["tbl"], r["side"]): r["n"]
            for r in u.groupBy("tbl", "side").agg(F.count("*").alias("n")).collect()
        }
    for t in src_tables:
        n_src = counted.get((t, "src"), 0)
        plan.counts[t] = (n_src, counted.get((t, "trg"), 0))
        if n_src == 0:
            plan.empty_source.append(t)
    copyable = [t for t in src_tables if t not in plan.empty_source]
    plan.order = topo_order(copyable, fks or {})
    return plan


def db_copy(
    spark: SparkSession,
    src_dir: str,
    trg_dir: str,
    pks: dict[str, str],
    mode: str = "new",
    fks: dict[str, set[str]] | None = None,
    activate: bool = False,
) -> dict[str, dict[str, int]]:
    """Copy/sync every source table into the target directory.

    mode ∈ {'empty', 'new', 'update', 'sync'} (reference
    db_copy/cmdline.py:19-28); `activate=False` keeps the reference's
    rollback-by-default (writes go to staging dirs only).
    """
    if mode not in ("empty", "new", "update", "sync"):
        raise ValueError(f"unknown mode {mode!r}")
    os.makedirs(trg_dir, exist_ok=True)
    plan = plan_copy(spark, src_dir, trg_dir, fks)
    policy = WritePolicy.COMMIT if activate else WritePolicy.STAGE
    stats: dict[str, dict[str, int]] = {}
    for t in plan.order:
        pk = pks.get(t)
        src = plan.sources[t]
        trg_path = os.path.join(trg_dir, f"{t}.parquet")
        st = {"inserted": 0, "updated": 0, "deleted": 0, "skipped": 0}
        if t in plan.missing_in_target:
            # fresh table: straight copy (reference 'missing' classification)
            if activate:
                src.write.mode("overwrite").parquet(trg_path)
            else:
                src.write.mode("overwrite").parquet(trg_path + ".staging")
            st["inserted"] = plan.counts[t][0]
            stats[t] = st
            continue
        n_trg = plan.counts[t][1]
        if mode == "empty" and n_trg > 0:
            st["skipped"] = plan.counts[t][0]
            stats[t] = st
            continue
        if pk is None:
            st["skipped"] = plan.counts[t][0]
            stats[t] = st
            continue
        trg = plan.targets[t]
        up = Uploader(spark, trg_path, policy=policy, table_name=t, schema=trg.schema)
        if mode in ("empty", "new"):
            fresh = src.join(trg.select(pk).distinct(), on=pk, how="left_anti")
            st["inserted"] = fresh.count()
            if st["inserted"]:
                up.insert_df(fresh)
        else:  # update / sync
            st.update(up.merge(src, key=pk, delete_missing=(mode == "sync")))
        stats[t] = st
    return stats
