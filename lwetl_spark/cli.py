"""sql-query CLI (SURVEY C1).

Reference: lwetl/programs/sql_query — multi-statement SQL from arg, file
or stdin, routed to a chosen formatter; table-name shorthand expands to
`SELECT * FROM t`; special commands `list`, `table_info` and
`jdbc_info` (reference sql_query/main.py:263-286).

Spark form: register the parquet tables of a source directory as views,
run each `;`-terminated statement through spark.sql, format results.

    python -m lwetl_spark.cli [-d SF_DIR] [-f text|csv|xml|sql] [-m MAX] "SQL;..."
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="lwetl-spark-sql", description="run SQL over a directory of parquet tables"
    )
    p.add_argument("command", nargs="?", help="SQL text, table name, 'list', or '-' for stdin")
    p.add_argument("-d", "--data-dir", default=None, help="parquet table directory (default $SPARK_GRAFT_SF_DIR)")
    p.add_argument("-f", "--format", default="text", choices=["text", "csv", "xml", "xmlp", "sql", "xlsx"])
    p.add_argument("-o", "--output", help="output file (required for -f xlsx)")
    p.add_argument("-m", "--max-rows", type=int, default=1000, help="output row cap (reference -m)")
    p.add_argument("--sep", default=";", help="CSV separator (reference ; default)")
    p.add_argument("--table", default="RESULT", help="table name for -f sql INSERT output")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from lwetl_spark.catalog import DEFAULT_SF_DIR, register_tables
    from lwetl_spark.session import get_spark
    from lwetl_spark.sinks.formatter import _rows, format_text_table, to_sql_inserts, to_xml_string
    from lwetl_spark.sources.sqlscript import split_statements

    spark = get_spark(app_name="lwetl_spark_cli")
    tables = register_tables(spark, args.data_dir or DEFAULT_SF_DIR)

    cmd = args.command or "-"
    if cmd == "-":
        cmd = sys.stdin.read()
    if cmd == "list":  # reference sql_query/main.py special form
        for t in sorted(tables):
            print(t)
        return 0
    if cmd == "jdbc_info":  # reference sql_query/main.py:282-283 →
        # engine/driver metadata; the engine IS Spark so this dumps the
        # session's version + execution-shaping confs (catalog.engine_info)
        from lwetl_spark.catalog import engine_info

        print(format_text_table(engine_info(spark), max_rows=args.max_rows), end="")
        return 0
    if cmd == "table_info":  # reference sql_query/main.py:284-286 →
        # one row per column across every registered table
        from lwetl_spark.catalog import schema_info

        print(
            format_text_table(schema_info(spark, tables), max_rows=args.max_rows),
            end="",
        )
        return 0
    if cmd in tables:  # bare-table-name shorthand → full scan probe
        cmd = f"SELECT * FROM {cmd}"

    stmts = list(split_statements(cmd))
    # multi-result routing (K6, reference sql_query/main.py:169-174):
    # xlsx/xml get one sheet per result set; text/csv/sql concatenate
    if args.format == "xlsx":
        from lwetl_spark.sinks.formatter import write_xlsx_sheets

        if not args.output:
            print("-f xlsx requires -o OUTPUT", file=sys.stderr)
            return 2
        write_xlsx_sheets(
            [(f"Sheet{i+1}", spark.sql(s)) for i, s in enumerate(stmts)],
            args.output,
            max_rows=args.max_rows,
        )
        print(f"wrote {args.output}")
        return 0
    if args.format in ("xml", "xmlp") and len(stmts) > 1:
        from lwetl_spark.sinks.formatter import _prettify, to_xml_string_sheets

        doc = to_xml_string_sheets(
            [(f"Sheet{i+1}", spark.sql(s)) for i, s in enumerate(stmts)],
            max_rows=args.max_rows,
        )
        print(_prettify(doc) if args.format == "xmlp" else doc, end="")
        return 0
    for stmt in stmts:
        df = spark.sql(stmt)
        if args.format == "text":
            print(format_text_table(df, max_rows=args.max_rows), end="")
        elif args.format == "csv":
            import csv as _csv

            w = _csv.writer(sys.stdout, delimiter=args.sep)
            w.writerow(df.columns)
            for row in _rows(df, args.max_rows):
                w.writerow(list(row))
        elif args.format in ("xml", "xmlp"):
            print(
                to_xml_string(
                    df, max_rows=args.max_rows, pretty=args.format == "xmlp"
                ),
                end="",
            )
        elif args.format == "sql":
            for line in to_sql_inserts(df, args.table, max_rows=args.max_rows):
                print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
