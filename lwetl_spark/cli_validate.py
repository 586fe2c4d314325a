"""data-contract validation CLI (engine addition — the operational form
of operators/validate.py; no reference analog, the nearest surface is
table_cardinality's profile-without-judgement).

Rules come from a JSON file: a list of rule objects in the exact
`validate()` dict shape, with foreign_key rules naming their parent
table (both tables loaded from the same parquet directory):

    [
      {"rule": "custkey_not_null", "kind": "not_null", "col": "o_custkey"},
      {"rule": "price_pos", "kind": "range", "col": "o_totalprice", "lo": 0},
      {"rule": "status", "kind": "accepted_values", "col": "o_orderstatus",
       "values": ["F", "O", "P"]},
      {"rule": "pk", "kind": "unique", "cols": ["o_orderkey"]},
      {"rule": "fk", "kind": "foreign_key", "col": "o_custkey",
       "parent": "customer", "parent_col": "c_custkey"}
    ]

    python -m lwetl_spark.cli_validate TABLE -r rules.json [-d SF_DIR]
        [--fail-on-violation]

Exit code 0 when every rule passes; 2 with --fail-on-violation and any
violations (the CI-gate mode: run before publishing a partition).
"""

from __future__ import annotations

import argparse
import json


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="lwetl-spark-validate",
        description="declarative data-contract validation over parquet tables",
    )
    p.add_argument("table", help="table to validate")
    p.add_argument("-r", "--rules", required=True, help="JSON rule file")
    p.add_argument("-d", "--data-dir", default=None, help="parquet table directory")
    p.add_argument(
        "--fail-on-violation",
        action="store_true",
        help="exit 2 if any rule has violations (CI-gate mode)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from lwetl_spark.catalog import DEFAULT_SF_DIR, register_tables
    from lwetl_spark.operators._probe import local_frame
    from lwetl_spark.operators.validate import validate
    from lwetl_spark.session import get_spark
    from lwetl_spark.sinks.formatter import format_text_table

    with open(args.rules) as fh:
        rules = json.load(fh)
    if not isinstance(rules, list):
        print("rule file must be a JSON list of rule objects")
        return 1

    spark = get_spark(app_name="lwetl_spark_validate")
    tables = register_tables(spark, args.data_dir or DEFAULT_SF_DIR)
    if args.table not in tables:
        print(f"unknown table {args.table!r}")
        return 1

    parent_names = {
        r["parent"] for r in rules if r.get("kind") == "foreign_key"
    }
    missing = parent_names - set(tables)
    if missing:
        print(f"unknown parent table(s): {sorted(missing)}")
        return 1

    try:
        result = validate(
            tables[args.table],
            rules,
            parents={n: tables[n] for n in parent_names},
        )
        rows = result.collect()
    except (ValueError, KeyError) as e:
        # malformed rule objects (unknown kind, missing 'col'/'values'/...)
        # get the same friendly exit-1 path as unknown tables/parents
        print(f"invalid rule file {args.rules!r}: {e}")
        return 1
    # format from the collected rows (a local relation) so the validation
    # scan runs exactly once — the scan IS the cost at scale
    print(format_text_table(local_frame(spark, rows, result.schema)), end="")
    n_bad = sum(r["n_violations"] for r in rows)
    if n_bad:
        print(f"{n_bad} violation(s) across {len(rows)} rule(s)")
        if args.fail_on_violation:
            return 2
    else:
        print(f"all {len(rows)} rule(s) clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
