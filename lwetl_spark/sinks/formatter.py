"""Sinks / formatters (SURVEY §2.7, K1-K7).

Reference: lwetl/formatter.py — TextFormatter (fixed width), CsvFormatter
(`;` default, excel dialect), XmlFormatter (plain/value/excel dialects),
XlsxFormatter (openpyxl), SqlFormatter (INSERT script via NativeUploader
pipe mode).

Spark mapping: CSV is a native distributed writer; text/XML/XLSX/SQL are
presentation formats — bounded by construction in the reference (reports,
pipe output).  Every one takes its rows from `_rows`: capped output is
one bounded collect, so the driver holds at most `max_rows` rows;
uncapped output streams over `toLocalIterator()`, a partition at a time.
"""

from __future__ import annotations

import io
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

#: bytes columns are suppressed in text-ish sinks (K7, lwetl/formatter.py:173-181)
BINARY_PLACEHOLDER = "Binary data suppressed."


def _present(v: object) -> str:
    if v is None:
        return ""
    if isinstance(v, (bytes, bytearray)):
        return BINARY_PLACEHOLDER
    return str(v)


def _rows(df: DataFrame, max_rows: int | None):
    """The rows a presentation sink renders.  With a cap: one collect
    bounded by ``limit`` — a sorted result plans as a single top-k job,
    where a stream pays a range-sampling job plus one job per
    partition; a negative cap renders no rows.  Without a cap
    (``None``): a stream over ``toLocalIterator``, never more than a
    partition on the driver."""
    if max_rows is None:
        return df.toLocalIterator()
    return df.limit(max(max_rows, 0)).collect()


def write_csv(df: DataFrame, path: str, sep: str = ";", header: bool = True, mode: str = "overwrite") -> None:
    """CSV sink (K2): the reference's excel-dialect `;` default
    (lwetl/formatter.py:257-290), as a distributed write."""
    df.write.mode(mode).option("header", str(header).lower()).option("sep", sep).csv(path)


def format_text_table(df: DataFrame, column_width: int = 20, max_rows: int | None = None) -> str:
    """Fixed-width text sink (K1; lwetl/formatter.py:198-253): width-20
    columns, `...` truncation, right-aligned numbers."""
    num_types = {"int", "bigint", "double", "float", "decimal", "smallint", "tinyint"}
    is_num = [any(f.dataType.simpleString().startswith(t) for t in num_types) for f in df.schema.fields]
    out = io.StringIO()

    def cell(v: object, num: bool) -> str:
        s = _present(v)
        if len(s) > column_width:
            s = s[: column_width - 3] + "..."
        return s.rjust(column_width) if num else s.ljust(column_width)

    # headers align with their column (numbers right-justify, K1 semantics)
    out.write(" ".join(cell(c, n) for c, n in zip(df.columns, is_num)).rstrip() + "\n")
    for row in _rows(df, max_rows):
        out.write(" ".join(cell(v, n) for v, n in zip(row, is_num)).rstrip() + "\n")
    return out.getvalue()


_XML_EXCEL_HEADER = (
    '<?xml version="1.0"?>\n<Workbook xmlns="urn:schemas-microsoft-com:office:'
    'spreadsheet" xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">\n'
)


def _xml_excel_worksheet(out: io.StringIO, name: str, df: DataFrame, max_rows: int | None) -> None:
    """One SpreadsheetML Worksheet block (the reference's `next_sheet`
    unit, lwetl/formatter.py:326-354)."""
    cols = df.columns
    out.write(f' <Worksheet ss:Name="{escape(name)}">\n  <Table>\n')
    out.write("   <Row>" + "".join(f'<Cell><Data ss:Type="String">{escape(c)}</Data></Cell>' for c in cols) + "</Row>\n")
    for row in _rows(df, max_rows):
        cells = []
        for v in row:
            typ = "Number" if isinstance(v, (int, float)) and not isinstance(v, bool) else "String"
            cells.append(f'<Cell><Data ss:Type="{typ}">{escape(_present(v))}</Data></Cell>')
        out.write("   <Row>" + "".join(cells) + "</Row>\n")
    out.write("  </Table>\n </Worksheet>\n")


def _xml_plain_rows(out: io.StringIO, df: DataFrame, dialect: str, row_tag: str, max_rows: int | None) -> None:
    cols = df.columns
    for row in _rows(df, max_rows):
        out.write(f"  <{row_tag}>")
        for c, v in zip(cols, row):
            if dialect == "value":
                out.write(f'<column name="{escape(c)}">{escape(_present(v))}</column>')
            else:
                out.write(f"<{c}>{escape(_present(v))}</{c}>")
        out.write(f"</{row_tag}>\n")


def to_xml_string(df: DataFrame, dialect: str = "plain", root: str = "table", row_tag: str = "row", max_rows: int | None = None, pretty: bool = False) -> str:
    """XML sink (K3; lwetl/formatter.py:294-438), three dialects:
    - 'plain': <row><COL>value</COL>...</row>
    - 'value': <row><column name="COL">value</column>...</row>
    - 'excel': SpreadsheetML Workbook/Worksheet/Row/Cell
    ``pretty`` re-indents the document (the reference's `xmlp` format /
    pretty_print flag, formatter.py:330-356) — bounded report output
    only, like every driver-side sink here.
    """
    out = io.StringIO()
    if dialect == "excel":
        out.write(_XML_EXCEL_HEADER)
        _xml_excel_worksheet(out, "Sheet1", df, max_rows)
        out.write("</Workbook>\n")
        return _prettify(out.getvalue()) if pretty else out.getvalue()
    out.write(f"<{root}>\n")
    _xml_plain_rows(out, df, dialect, row_tag, max_rows)
    out.write(f"</{root}>\n")
    return _prettify(out.getvalue()) if pretty else out.getvalue()


def _prettify(xml_text: str) -> str:
    """Re-indent an XML document (reference `xmlp`)."""
    from xml.dom import minidom

    pretty = minidom.parseString(xml_text).toprettyxml(indent="  ")
    # drop blank lines minidom leaves behind for text-free nodes
    return "\n".join(l for l in pretty.splitlines() if l.strip()) + "\n"


def to_xml_string_sheets(
    sheets: list[tuple[str, DataFrame]],
    dialect: str = "plain",
    max_rows: int | None = None,
) -> str:
    """Multi-result XML routing (K3/K6 `next_sheet` parity): one sheet
    per result set like the reference's multi-statement sql_query output
    (lwetl/formatter.py:326-354; sql_query/main.py:169-174).

    - 'excel': ONE Workbook, one <Worksheet ss:Name=...> per result.
    - 'plain'/'value': <document> root, one <table name=...> per result.
    """
    out = io.StringIO()
    if dialect == "excel":
        out.write(_XML_EXCEL_HEADER)
        for name, df in sheets:
            _xml_excel_worksheet(out, name, df, max_rows)
        out.write("</Workbook>\n")
        return out.getvalue()
    out.write("<document>\n")
    for name, df in sheets:
        out.write(f' <table name="{escape(name)}">\n')
        _xml_plain_rows(out, df, dialect, "row", max_rows)
        out.write(" </table>\n")
    out.write("</document>\n")
    return out.getvalue()


def write_xlsx(df: DataFrame, path: str, sheet: str = "Sheet1", max_rows: int = 100_000) -> None:
    """XLSX sink (K4; lwetl/formatter.py:442-525) — driver-side by nature;
    bounded like the reference's report outputs.  Written by the
    dependency-free SpreadsheetML engine (sinks/xlsx_minimal.py)."""
    write_xlsx_sheets([(sheet, df)], path, max_rows=max_rows)


def write_xlsx_sheets(
    sheets: list[tuple[str, DataFrame]], path: str, max_rows: int = 100_000
) -> None:
    """Multi-sheet XLSX (K4 `next_sheet` parity, lwetl/formatter.py:442-525
    + sql_query/main.py:169-174): one worksheet per result set, sheet
    names deduplicated and truncated to Excel's 31-char limit, written
    by the built-in minimal writer whatever is installed, so the cell
    types never depend on the environment."""
    from lwetl_spark.sinks.xlsx_minimal import iter_df_rows, write_workbook

    seen: dict[str, int] = {}
    named: list[tuple[str, DataFrame]] = []
    for name, df in sheets:
        base = str(name)[:31] or "Sheet"
        n = seen.get(base, 0)
        seen[base] = n + 1
        named.append((base if n == 0 else f"{base[:28]}_{n+1}", df))
    write_workbook(
        [
            (sheet_name, list(df.columns), iter_df_rows(df, max_rows))
            for sheet_name, df in named
        ],
        path,
    )


def _sql_literal(v: object) -> str:
    """SQL literal rendering (K5): the reference's quote-doubling
    (lwetl/uploader.py:337) and ISO timestamp formatting (:376-389)."""
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, datetime.datetime):
        return "TIMESTAMP '" + v.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3] + "'"
    if isinstance(v, datetime.date):
        return "DATE '" + v.isoformat() + "'"
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex() + "'"
    return "'" + str(v).replace("'", "''") + "'"


def to_sql_inserts(df: DataFrame, table: str, max_rows: int | None = None):
    """SQL-script sink (K5; lwetl/formatter.py:529-594): yields one
    `INSERT INTO t (...) VALUES (...);` line per row, for piping.  With
    ``max_rows`` the rows come from one bounded collect; without it they
    stream over toLocalIterator, never materializing the DataFrame."""
    cols = ", ".join(df.columns)
    for row in _rows(df, max_rows):
        vals = ", ".join(_sql_literal(v) for v in row)
        yield f"INSERT INTO {table} ({cols}) VALUES ({vals});"
