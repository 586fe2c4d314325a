"""Programmatic API facade (SURVEY §3.3): the reference's `Jdbc` surface
re-expressed over a SparkSession.

Reference: lwetl/jdbc.py — `Jdbc(login)` connects; `query(sql, params,
return_type)` lazily yields transformed rows; `query_single` /
`query_single_value` / `get_int` probe single results (jdbc.py:722-753);
`execute` runs DML.  Here the "connection" is a parquet-directory catalog
and Spark SQL is the backing engine; the row-iterator surface survives via
`toLocalIterator()` so reference-style scripts port 1:1.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from lwetl_spark.catalog import register_tables
from lwetl_spark.session import get_spark
from lwetl_spark.sinks.formatter import _rows
from lwetl_spark.types import drop_empty_values


class SparkEtl:
    """Engine handle: `SparkEtl(sf_dir)` ≈ the reference's `Jdbc(login)`
    (lwetl/jdbc.py:405-448) with the parquet directory as the database."""

    def __init__(self, data_dir: str, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self.data_dir = data_dir
        self.tables = register_tables(self.spark, data_dir)

    # -- S1/S2: query -----------------------------------------------------
    def query_df(self, sql: str, parameters: dict | list | None = None) -> DataFrame:
        """Parameterized query → DataFrame (S2).  Named (`:name`) or
        positional (`?`) parameters via Spark's parameterized SQL — the
        reference binds JDBC `?` params (lwetl/jdbc.py:508-601)."""
        if parameters is None:
            return self.spark.sql(sql)
        if isinstance(parameters, dict):
            return self.spark.sql(sql, args=parameters)
        # positional: Spark uses ? markers like JDBC
        return self.spark.sql(sql, args=list(parameters))

    def query(
        self,
        sql: str,
        parameters: dict | list | None = None,
        return_type: type = tuple,
        include_none: bool = False,
        max_rows: int = 0,
        array_size: int = 1000,
    ) -> Iterator:
        """Row-iterator surface (lwetl/jdbc.py:624-673): lazily yields
        rows as tuple/list/dict/OrderedDict; dict rows drop empty values
        unless include_none (reference jdbc.py:356-361); max_rows
        truncates like the reference's client-side cap (jdbc.py:668-673)
        — a cap is one bounded collect, 0 (no cap) streams.
        `array_size` is accepted for signature parity (batching is
        Spark's concern now)."""
        df = self.query_df(sql, parameters)
        cols = df.columns
        for row in _rows(df, max_rows or None):
            if return_type in (dict, OrderedDict):
                d = return_type(zip(cols, row))
                yield d if include_none else return_type(drop_empty_values(dict(d)))
            elif return_type is list:
                yield list(row)
            else:
                yield tuple(row)

    # -- S3: single-row / scalar probes -----------------------------------
    def query_single(self, sql: str, parameters: dict | list | None = None) -> tuple | None:
        """First row or None (reference jdbc.py:722-736)."""
        rows = self.query_df(sql, parameters).take(1)
        return tuple(rows[0]) if rows else None

    def query_single_value(self, sql: str, parameters: dict | list | None = None):
        """First column of first row, or None (jdbc.py:738-747)."""
        row = self.query_single(sql, parameters)
        return row[0] if row else None

    def get_int(self, sql: str, parameters: dict | list | None = None) -> int:
        """Scalar int probe; None → 0 (reference jdbc.py:749-753)."""
        v = self.query_single_value(sql, parameters)
        if v is None:
            return 0
        return int(v)

    # -- misc parity -------------------------------------------------------
    def execute(self, sql: str) -> DataFrame:
        """Execute one statement (DDL/SELECT) — Spark SQL is the engine."""
        return self.spark.sql(sql)

    def get_columns(self, table: str) -> "OrderedDict[str, str]":
        """Cursor-metadata surface (lwetl/jdbc.py:88-120): ordered
        {COLUMN_NAME → type} for a registered table."""
        df = self.tables[table]
        return OrderedDict((f.name.upper(), f.dataType.simpleString()) for f in df.schema.fields)
