"""XLSX source (SURVEY S5).

Reference: `XlsxImport` (lwetl/table_import.py:378-480) — first or named
sheet, header row, dict-per-row, openpyxl read-only mode.

XLSX is a driver-side format by design (single zip container, no record
splitting) — the reference treats it the same way.  We parse with the
dependency-free SpreadsheetML reader (sinks/xlsx_minimal.py) and
distribute via `createDataFrame`; bounded inputs only (same envelope as
the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lwetl_spark.types import normalize_names


def xlsx_source(
    spark: SparkSession,
    path: str,
    sheet: str | int = 0,
    header: bool = True,
    upper_names: bool = True,
) -> DataFrame:
    """Read one worksheet into a DataFrame with the dependency-free
    SpreadsheetML reader (sinks/xlsx_minimal.py — handles inline,
    shared-string and numeric cells, so it reads openpyxl-produced
    workbooks too)."""
    import pandas as pd

    from lwetl_spark.sinks.xlsx_minimal import read_workbook

    book = read_workbook(path)
    rows = (list(book.values())[sheet] if isinstance(sheet, int)
            else book[sheet])
    if header:
        pdf = pd.DataFrame(rows[1:], columns=[str(c) for c in rows[0]])
    else:
        pdf = pd.DataFrame(rows)
    if not header:
        pdf.columns = [f"C{i}" for i in range(len(pdf.columns))]
    else:
        pdf.columns = [str(c) for c in pdf.columns]
    # pandas NaN → None so Spark gets real nulls
    pdf = pdf.astype(object).where(pdf.notna(), None)
    df = spark.createDataFrame(pdf)
    return normalize_names(df, upper=upper_names)
