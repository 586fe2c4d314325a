"""DML sinks / uploaders (SURVEY §2.8, U1-U8).

Reference: lwetl/uploader.py — NativeUploader (literal SQL),
ParameterUploader (bind params), MultiParameterUploader (executemany),
with per-N-row commits and 4 commit modes, plus process-global PK counters.

Spark re-design: writes are atomic jobs over parquet table directories.
The dict-in/DataFrame-under surface survives; commit modes become the
`WritePolicy` enum:

| reference mode (uploader.py:22-25) | WritePolicy | behavior |
|---|---|---|
| dryrun   | PLAN    | no write; returns planned row count |
| rollback | STAGE   | write to a staging dir next to the target (default, like the reference's rollback-by-default) |
| commit   | COMMIT  | real write |
| pipe     | SCRIPT  | emit INSERT statements (K5) |

Update/delete/merge on parquet are whole-table rewrites (SURVEY U4/U5),
each ONE Spark plan written ONCE:
- the rewritten table is a single frame — a conditional projection
  (update), a filter or a key-tagging left join (delete), or the kept
  target rows plus the source rows (merge);
- the affected-row counts come from `Observation`s on that frame, so
  the write job itself reports them — no separate `count()` job;
- under COMMIT the frame is written to a sibling `<table>.new-<uuid>`
  directory and swapped in by rename (`_fsutil.replace_table`): the live
  table is never read and written by the same job, and a failed write
  leaves it untouched.
On a real deployment the same calls map 1:1 onto Delta MERGE/DELETE;
the import is gated so the engine runs without the Delta jars.
"""

from __future__ import annotations

import enum
import os
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lwetl_spark.operators._fsutil import read_parquet, replace_table

#: marker column of `_tag_keys`; true on rows whose key the other side has
_HIT = "__lwetl_key_hit"


class SqlExpression:
    """U8: the reference's `NativeExpression` passes raw SQL as an insert/
    update value (lwetl/uploader.py:64-70, 330-331).  Here the expression
    is evaluated by Catalyst (`F.expr`) against the row being written, so
    it may reference other columns of the target row."""

    def __init__(self, sql: str):
        self.sql = sql

    def __repr__(self) -> str:  # pragma: no cover
        return f"SqlExpression({self.sql!r})"


class WritePolicy(enum.Enum):
    PLAN = "plan"  # reference 'dryrun' (lwetl/uploader.py:22)
    STAGE = "stage"  # reference 'rollback' — the DEFAULT, writes discarded
    COMMIT = "commit"
    SCRIPT = "script"  # reference 'pipe'


def add_pk_column(
    df: DataFrame,
    pk_col: str,
    existing_max: int = 0,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Deterministic id generation (U7): the reference seeds a counter
    from `SELECT MAX(pk)` and increments per row
    (lwetl/uploader.py:31-61).  Spark equivalent: max + row_number over
    an explicit ordering — deterministic, unlike
    monotonically_increasing_id, and safe under retries.

    Scale note: a single un-partitioned window is a one-reducer sort; for
    bulk backfills prefer zipWithIndex-style (per-partition offsets).
    This veneer is for the reference's insert-with-generated-PK use case
    (bounded batches).
    """
    order_by = order_by or df.columns
    w = Window.orderBy(*order_by)
    return df.withColumn(pk_col, (F.lit(existing_max) + F.row_number().over(w)).cast("long"))


class Uploader:
    """Row/DataFrame sink bound to a parquet table directory.

    Mirrors the reference Uploader surface (insert/update/delete/commit,
    lwetl/uploader.py:78-698) with DataFrames underneath.  Dict rows are
    accepted for API parity and buffered driver-side until `commit()`
    (the reference's MultiParameterUploader batching, :644-698); empty
    values are dropped like the reference's `_filter_data`
    (:309-344).
    """

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        policy: WritePolicy = WritePolicy.STAGE,
        table_name: str | None = None,
        schema: StructType | None = None,
    ):
        """`schema` is the table's schema when the caller already has the
        table open; without it the first read takes it from the footer."""
        self.spark = spark
        self.table_path = table_path
        self.policy = policy
        self.table_name = table_name or os.path.basename(table_path.rstrip("/")).split(".")[0]
        self._buffer: list[dict] = []
        self._scripts: list[str] = []
        self._schema = schema
        self.rowcount = 0

    # -- reading ----------------------------------------------------------
    def target(self) -> DataFrame:
        return self.spark.read.schema(self._target_schema()).parquet(self.table_path)

    def _target_schema(self) -> StructType:
        """The table's schema, taken from the footer on first use (no job)
        and kept: no Uploader operation changes its table's columns."""
        if self._schema is None:
            self._schema = read_parquet(self.spark, self.table_path).schema
        return self._schema

    # -- U1/U3: insert ----------------------------------------------------
    def insert(self, row: dict) -> None:
        """Buffer one dict row (U1; lwetl/uploader.py:550-570).  Keys not
        in the target schema are dropped; empty values are dropped
        (reference `_filter_data`, :309-344)."""
        cols = {f.name for f in self._target_schema().fields}
        clean = {
            k: v
            for k, v in row.items()
            if k in cols and v is not None and not (isinstance(v, str) and not v.strip())
        }
        if clean:
            self._buffer.append(clean)
            self.rowcount += 1

    def insert_df(self, df: DataFrame) -> int:
        """Bulk insert (U3's natural Spark form): append a DataFrame."""
        return self._write(df, mode="append")

    # -- U4: update -------------------------------------------------------
    def update(self, set_values: dict, where: dict) -> int:
        """UPDATE t SET ... WHERE k=v[ AND ...] (U4;
        lwetl/uploader.py:572-608) as a join-free conditional rewrite:
        matched rows get the new values (None → NULL like the reference's
        explicit-None semantics, :594-595)."""
        trg = self.target()
        cond = _where(where)
        obs = Observation()
        cols = []
        for f in trg.schema.fields:
            if f.name in set_values:
                v = set_values[f.name]
                if isinstance(v, SqlExpression):  # U8: SET c = <raw SQL>
                    new = F.expr(v.sql).cast(f.dataType)
                elif v is None:
                    new = F.lit(None).cast(f.dataType)
                else:
                    new = F.lit(v).cast(f.dataType)
                cols.append(F.when(cond, new).otherwise(F.col(f.name)).alias(f.name))
            else:
                cols.append(F.col(f.name))
        self._write(trg.observe(obs, _count(cond)).select(*cols), mode="overwrite")
        return obs.get["n"]

    # -- U5: delete -------------------------------------------------------
    def delete(self, where: dict | None = None, keys_df: DataFrame | None = None, key: str | None = None) -> int:
        """DELETE FROM t WHERE ... (U5; lwetl/uploader.py:610-636).  Either
        a where-dict, or (keys_df, key) replicating db-copy's batched
        `IN (?,...)` delete (db_copy/main.py:365-391) as a left join that
        tags the rows to drop.  Returns the number of rows deleted."""
        trg = self.target()
        obs = Observation()
        if keys_df is not None and key is not None:
            hit = F.col(_HIT).isNotNull()
            tagged = _tag_keys(trg, keys_df, key).observe(obs, _count(hit))
            remaining = tagged.filter(~hit).select(*trg.columns)
        elif where:
            cond = _where(where)
            remaining = trg.observe(obs, _count(cond)).filter(~cond | cond.isNull())
        else:
            raise ValueError("delete needs a where-dict or keys_df+key")
        self._write(remaining, mode="overwrite")
        return obs.get["n"]

    # -- merge (db-copy update mode) --------------------------------------
    def merge(self, src: DataFrame, key: str, delete_missing: bool = False) -> dict[str, int]:
        """Upsert (U4+U1 composite, db-copy 'update' mode
        db_copy/main.py:296-315): target rows matched on `key` are
        replaced by source rows, unmatched source rows appended.  With
        `delete_missing` (db-copy 'sync', :362-391) target rows whose
        non-null key the source lacks are deleted too, and the result
        carries a `deleted` count.

        One frame, one write: the target rows to keep (key absent from
        the source; under `delete_missing` only the null-key ones), plus
        the source rows.  Each side is tagged by a left join to the other
        side's distinct keys, and the counts are observed on the tagged
        sides during the write.  Null keys never match, so null-key
        target rows survive and null-key source rows count as inserted.
        Maps 1:1 to Delta MERGE when available."""
        trg = self.target()
        src = src.select(*[c for c in trg.columns if c in src.columns])
        hit = F.col(_HIT).isNotNull()
        trg_obs, src_obs = Observation(), Observation()
        old = _tag_keys(trg, src, key).observe(
            trg_obs, _count(~hit & F.col(key).isNotNull(), "deleted")
        )
        new = _tag_keys(src, trg, key).observe(
            src_obs, _count(~hit, "inserted"), _count(hit, "updated")
        )
        kept = old.filter(F.col(key).isNull() if delete_missing else ~hit)
        # source rows first: the writer always writes a file for partition
        # 0, and after a sync the kept side is usually empty
        merged = (
            new.select(*src.columns)
            .unionByName(kept.select(*trg.columns), allowMissingColumns=True)
            .select(*trg.columns)
        )
        self._write(merged, mode="overwrite")
        counts = src_obs.get
        if delete_missing:
            counts["deleted"] = trg_obs.get["deleted"]
        return counts

    # -- commit machinery --------------------------------------------------
    def commit(self) -> int:
        """Flush buffered dict rows (U3 executemany analog,
        lwetl/uploader.py:644-698)."""
        if not self._buffer:
            return 0
        schema = self._target_schema()
        plain = [
            r for r in self._buffer if not any(isinstance(v, SqlExpression) for v in r.values())
        ]
        exprish = [
            r for r in self._buffer if any(isinstance(v, SqlExpression) for v in r.values())
        ]
        n = len(self._buffer)
        self._buffer = []
        dfs = []
        if plain:
            rows = [tuple(r.get(f.name) for f in schema.fields) for r in plain]
            dfs.append(self.spark.createDataFrame(rows, schema))
        for r in exprish:  # U8 rows: literals first, then expressions so an
            # expression may reference the row's other columns
            base = self.spark.range(1).select(
                *[
                    F.lit(None if isinstance(r.get(f.name), SqlExpression) else r.get(f.name))
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in schema.fields
                ]
            )
            for f in schema.fields:
                v = r.get(f.name)
                if isinstance(v, SqlExpression):
                    base = base.withColumn(f.name, F.expr(v.sql).cast(f.dataType))
            dfs.append(base)
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d)
        self._write(df, mode="append")
        return n

    def rollback(self) -> int:
        """Discard buffered rows (the reference's default commit mode!)."""
        n = len(self._buffer)
        self._buffer = []
        return n

    @property
    def staging_path(self) -> str:
        return self.table_path.rstrip("/") + ".staging"

    def _write(self, df: DataFrame, mode: str) -> int:
        """Run the policy's one action over `df`; any `Observation` on
        `df` is filled by it (readable once this returns)."""
        if self.policy is WritePolicy.PLAN:
            return df.count()
        if self.policy is WritePolicy.SCRIPT:
            from lwetl_spark.sinks.formatter import to_sql_inserts

            # the statements stream through toLocalIterator, which does
            # not report observed metrics — count first so it does
            df.count()
            self._scripts.extend(to_sql_inserts(df, self.table_name))
            return len(self._scripts)
        if self.policy is WritePolicy.STAGE:
            staged = Observation()
            df.observe(staged, _count(F.lit(True))).write.mode("overwrite").parquet(
                self.staging_path
            )
            return staged.get["n"]
        if mode == "overwrite":
            replace_table(self.spark, df, self.table_path)
        else:
            df.write.mode(mode).parquet(self.table_path)
        return 0

    def sql_script(self) -> Iterable[str]:
        """Accumulated INSERT statements under SCRIPT policy (U2/K5)."""
        return list(self._scripts)


def _where(where: dict) -> Column:
    """AND of `k = v` terms; a None value means `k IS NULL`."""
    cond = None
    for k, v in where.items():
        c = F.col(k).isNull() if v is None else (F.col(k) == F.lit(v))
        cond = c if cond is None else (cond & c)
    return cond


def _count(cond: Column, name: str = "n") -> Column:
    """Observed metric: the number of rows on which `cond` is true."""
    return F.count(F.when(cond, 1)).alias(name)


def _tag_keys(df: DataFrame, other: DataFrame, key: str) -> DataFrame:
    """`df` left-joined to the distinct keys of `other`: `_HIT` is true
    on rows whose key `other` has, null otherwise (null keys never
    match).  The using-join moves `key` first; callers re-select."""
    keys = other.select(key).distinct().withColumn(_HIT, F.lit(True))
    return df.join(keys, on=key, how="left")
