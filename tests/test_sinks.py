"""Formatter + uploader tests (SURVEY §2.7/§2.8 — the reference's
formatter smoke over every table, tests/test.py:294-347, plus commit-mode
and merge/delete semantics)."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_CORRECT


@pytest.fixture()
def small(spark):
    from lwetl_spark.catalog import load_table

    return load_table(spark, SF_CORRECT, "nation")


def test_text_table(small):
    from lwetl_spark.sinks.formatter import format_text_table

    out = format_text_table(small, max_rows=5)
    lines = out.splitlines()
    assert lines[0].split() == ["n_nationkey", "n_name", "n_regionkey"]
    assert len(lines) == 6


def test_text_table_binary_suppressed(spark):
    from pyspark.sql import functions as F

    from lwetl_spark.sinks.formatter import BINARY_PLACEHOLDER, format_text_table

    df = spark.createDataFrame([(1,)], "id int").select(
        "id", F.lit(b"\x00\x01").alias("blob")
    )
    assert BINARY_PLACEHOLDER[:14] in format_text_table(df)


def test_xml_dialects(small):
    from lwetl_spark.sinks.formatter import to_xml_string

    plain = to_xml_string(small, dialect="plain", max_rows=2)
    assert "<n_name>" in plain
    value = to_xml_string(small, dialect="value", max_rows=2)
    assert '<column name="n_name">' in value
    excel = to_xml_string(small, dialect="excel", max_rows=2)
    assert "<Workbook" in excel and 'ss:Type="Number"' in excel


def test_sql_inserts(small):
    from lwetl_spark.sinks.formatter import to_sql_inserts

    stmts = list(to_sql_inserts(small.limit(3), "NATION"))
    assert len(stmts) == 3
    assert stmts[0].startswith("INSERT INTO NATION (n_nationkey, n_name, n_regionkey) VALUES (")
    assert stmts[0].endswith(");")


def test_sql_literal_quoting(spark):
    from lwetl_spark.sinks.formatter import _sql_literal

    assert _sql_literal("O'Brien") == "'O''Brien'"
    assert _sql_literal(None) == "NULL"
    assert _sql_literal(b"\x01\xff") == "X'01ff'"


# ---------------------------------------------------------------------------
# uploader / write policies
# ---------------------------------------------------------------------------


@pytest.fixture()
def table_dir(spark, tmp_path):
    from lwetl_spark.catalog import load_table

    p = str(tmp_path / "nation.parquet")
    load_table(spark, SF_CORRECT, "nation").write.parquet(p)
    return p


def test_uploader_insert_commit(spark, table_dir):
    from lwetl_spark.sinks.uploader import Uploader, WritePolicy

    up = Uploader(spark, table_dir, policy=WritePolicy.COMMIT)
    up.insert({"n_nationkey": 99, "n_name": "ATLANTIS", "n_regionkey": 0, "bogus": 1})
    up.insert({"n_nationkey": 100, "n_name": "  ", "n_regionkey": 0})  # blank dropped
    assert up.commit() == 2
    trg = up.target()
    assert trg.count() == 27
    row = trg.filter("n_nationkey = 100").collect()[0]
    assert row["n_name"] is None  # empty-string → skipped → NULL


def test_uploader_inserts_read_the_schema_once(spark, table_dir):
    """20 buffered inserts run at most one Spark job (the schema read),
    counted by job-id window; the committed rows are the same."""
    from lwetl_spark.sinks.uploader import Uploader, WritePolicy

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    up = Uploader(spark, table_dir, policy=WritePolicy.COMMIT)
    first = dag.numTotalJobs()
    for k in range(20):
        up.insert({"n_nationkey": 100 + k, "n_name": " " if k % 2 else f"N{k}",
                   "n_regionkey": k % 5, "bogus": k})
    assert dag.numTotalJobs() - first <= 1
    assert up.commit() == 20
    got = sorted(
        tuple(r) for r in up.target().filter("n_nationkey >= 100")
        .select("n_nationkey", "n_name", "n_regionkey").collect()
    )
    assert got == [(100 + k, None if k % 2 else f"N{k}", k % 5)
                   for k in range(20)]


def test_uploader_rollback_default(spark, table_dir):
    """The reference's rollback-by-default (uploader.py:22-25): STAGE
    policy writes a staging dir, target untouched."""
    from lwetl_spark.sinks.uploader import Uploader

    up = Uploader(spark, table_dir)  # default STAGE
    up.insert({"n_nationkey": 99, "n_name": "ATLANTIS", "n_regionkey": 0})
    up.commit()
    assert up.target().count() == 25
    assert os.path.isdir(up.staging_path)


def test_uploader_stage_counts_on_the_write(spark, table_dir):
    """A staged write takes its row count from an Observation on the
    write itself: the write is the only job (no staging re-read, no
    count job), and an empty frame counts 0."""
    from lwetl_spark.sinks.uploader import Uploader

    up = Uploader(spark, table_dir)  # default STAGE
    region1 = up.target().filter("n_regionkey = 1")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.numTotalJobs()
    assert up.insert_df(region1) == 5
    assert dag.numTotalJobs() - first == 1
    assert spark.read.schema(up.target().schema).parquet(up.staging_path).count() == 5
    assert up.insert_df(region1.limit(0)) == 0


def test_uploader_plan_policy(spark, table_dir):
    from lwetl_spark.sinks.uploader import Uploader, WritePolicy

    up = Uploader(spark, table_dir, policy=WritePolicy.PLAN)
    up.insert({"n_nationkey": 99, "n_name": "X", "n_regionkey": 0})
    up.commit()
    assert up.target().count() == 25


def test_uploader_script_policy(spark, table_dir):
    from lwetl_spark.sinks.uploader import Uploader, WritePolicy

    up = Uploader(spark, table_dir, policy=WritePolicy.SCRIPT, table_name="NATION")
    up.insert({"n_nationkey": 99, "n_name": "ATLANTIS", "n_regionkey": 0})
    up.commit()
    scripts = list(up.sql_script())
    assert len(scripts) == 1
    assert "INSERT INTO NATION" in scripts[0] and "'ATLANTIS'" in scripts[0]


def test_uploader_update(spark, table_dir):
    from lwetl_spark.sinks.uploader import Uploader, WritePolicy

    up = Uploader(spark, table_dir, policy=WritePolicy.COMMIT)
    n = up.update({"n_name": "RENAMED", "n_regionkey": None}, where={"n_nationkey": 3})
    assert n == 1
    row = up.target().filter("n_nationkey = 3").collect()[0]
    assert row["n_name"] == "RENAMED" and row["n_regionkey"] is None


def test_uploader_delete(spark, table_dir):
    from lwetl_spark.sinks.uploader import Uploader, WritePolicy

    up = Uploader(spark, table_dir, policy=WritePolicy.COMMIT)
    assert up.delete(where={"n_regionkey": 0}) == 5
    assert up.target().count() == 20


def test_uploader_merge(spark, table_dir):
    from lwetl_spark.sinks.uploader import Uploader, WritePolicy

    up = Uploader(spark, table_dir, policy=WritePolicy.COMMIT)
    src = spark.createDataFrame(
        [(3, "UPDATED", 9), (999, "NEW", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    res = up.merge(src, key="n_nationkey")
    assert res == {"inserted": 1, "updated": 1}
    trg = up.target()
    assert trg.count() == 26
    assert trg.filter("n_nationkey = 3").collect()[0]["n_name"] == "UPDATED"


def test_uploader_merge_delete_missing(spark, table_dir):
    """merge(delete_missing=True) is db-copy's sync: target keys the
    source lacks are deleted and counted."""
    from lwetl_spark.sinks.uploader import Uploader, WritePolicy

    up = Uploader(spark, table_dir, policy=WritePolicy.COMMIT)
    src = spark.createDataFrame(
        [(3, "UPDATED", 9), (999, "NEW", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    res = up.merge(src, key="n_nationkey", delete_missing=True)
    assert res == {"inserted": 1, "updated": 1, "deleted": 24}
    assert sorted(map(tuple, up.target().collect())) == [(3, "UPDATED", 9), (999, "NEW", 1)]


@pytest.mark.parametrize("policy", ["plan", "script"])
def test_uploader_dry_policies_count_without_writing(spark, table_dir, policy):
    """PLAN and SCRIPT report the counts of a rewrite from one count()
    over the observed frame and leave the table as it was."""
    from lwetl_spark.sinks.uploader import Uploader, WritePolicy

    up = Uploader(spark, table_dir, policy=WritePolicy(policy))
    assert up.update({"n_name": "X"}, where={"n_regionkey": 0}) == 5
    assert up.delete(where={"n_regionkey": 1}) == 5
    src = spark.createDataFrame(
        [(3, "U", 9), (999, "N", 1)], "n_nationkey int, n_name string, n_regionkey int"
    )
    assert up.merge(src, key="n_nationkey") == {"inserted": 1, "updated": 1}
    assert up.target().filter("n_name = 'X' OR n_nationkey = 999").count() == 0


def test_uploader_failed_rewrite_keeps_old_table(spark, table_dir):
    """A rewrite that fails inside its write job leaves the old table
    readable with its old checksum and no sibling directory behind."""
    from pyspark.sql import functions as F

    from lwetl_spark.operators.cardinality import table_checksum
    from lwetl_spark.sinks.uploader import SqlExpression, Uploader, WritePolicy

    up = Uploader(spark, table_dir, policy=WritePolicy.COMMIT)
    before = tuple(table_checksum(up.target()).collect()[0])
    bad = up.target().withColumn(
        "n_name",
        F.when(F.col("n_nationkey") == 3, F.raise_error(F.lit("boom"))).otherwise(F.col("n_name")),
    )
    attempts = [
        lambda: up.update(
            {"n_name": SqlExpression("raise_error('boom')")}, where={"n_nationkey": 3}
        ),
        lambda: up.merge(bad, key="n_nationkey"),
        lambda: up.merge(bad, key="n_nationkey", delete_missing=True),
    ]
    for attempt in attempts:
        with pytest.raises(Exception, match="boom"):
            attempt()
        assert tuple(table_checksum(up.target()).collect()[0]) == before
        assert os.listdir(os.path.dirname(table_dir)) == ["nation.parquet"]


def test_add_pk_column(spark):
    from lwetl_spark.sinks.uploader import add_pk_column

    df = spark.createDataFrame([("b",), ("a",), ("c",)], "v string")
    out = add_pk_column(df, "ID", existing_max=10, order_by=["v"]).collect()
    assert {(r["v"], r["ID"]) for r in out} == {("a", 11), ("b", 12), ("c", 13)}


def test_uploader_sql_expression_insert(spark, table_dir):
    """U8: NativeExpression analog — raw SQL values evaluated by Catalyst,
    may reference the row's other columns (lwetl/uploader.py:64-70)."""
    from lwetl_spark.sinks.uploader import SqlExpression, Uploader, WritePolicy

    up = Uploader(spark, table_dir, policy=WritePolicy.COMMIT)
    up.insert({"n_nationkey": 200, "n_name": SqlExpression("upper('atlantis')"), "n_regionkey": 1})
    up.insert({"n_nationkey": 201, "n_name": SqlExpression("concat('R', n_regionkey)"), "n_regionkey": 3})
    up.insert({"n_nationkey": 202, "n_name": "PLAIN", "n_regionkey": 4})
    assert up.commit() == 3
    got = {r["n_nationkey"]: r["n_name"] for r in up.target().filter("n_nationkey >= 200").collect()}
    assert got == {200: "ATLANTIS", 201: "R3", 202: "PLAIN"}


def test_uploader_sql_expression_update(spark, table_dir):
    from lwetl_spark.sinks.uploader import SqlExpression, Uploader, WritePolicy

    up = Uploader(spark, table_dir, policy=WritePolicy.COMMIT)
    n = up.update({"n_name": SqlExpression("concat(n_name, '_X')")}, {"n_regionkey": 1})
    assert n > 0
    updated = up.target().filter("n_regionkey = 1").collect()
    assert all(r["n_name"].endswith("_X") for r in updated)
    untouched = up.target().filter("n_regionkey = 0").collect()
    assert all(not r["n_name"].endswith("_X") for r in untouched)


def test_xlsx_multi_sheet_roundtrip(spark, tmp_path):
    """VERDICT r1 #4: one worksheet per result set (reference next_sheet,
    formatter.py:442-525 + sql_query/main.py:169-174), read back per-sheet."""
    from lwetl_spark.sinks.formatter import write_xlsx_sheets
    from lwetl_spark.sinks.xlsx_minimal import read_workbook

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    b = spark.createDataFrame([(9.5,)], "z double")
    path = str(tmp_path / "multi.xlsx")
    write_xlsx_sheets([("Sheet1", a), ("Sheet2", b), ("Sheet1", a)], path)

    book = read_workbook(path)
    assert set(book) == {"Sheet1", "Sheet2", "Sheet1_2"}  # dedup'd names
    assert book["Sheet1"][0] == ["id", "v"]
    assert [r[0] for r in book["Sheet1"][1:]] == [1, 2]
    assert book["Sheet2"][1] == [9.5]


def test_xlsx_nan_inf_cells_roundtrip(tmp_path):
    """NaN/inf are not valid t="n" numeric cells (ADVICE r2) — they are
    written as inline strings and read back as such, never as a bogus
    float("nan") that silently propagates."""
    from lwetl_spark.sinks.xlsx_minimal import read_workbook, write_workbook

    path = str(tmp_path / "nan.xlsx")
    write_workbook(
        [("S", ["a", "b"], [(float("nan"), 1.5), (float("inf"), float("-inf"))])],
        path,
    )
    book = read_workbook(path)
    assert book["S"][1] == ["NaN", 1.5]
    assert book["S"][2] == ["inf", "-inf"]
    # the xml itself must not contain numeric nan/inf cells
    import zipfile

    with zipfile.ZipFile(path) as z:
        xml = z.read("xl/worksheets/sheet1.xml").decode()
    assert "<v>nan</v>" not in xml and "<v>inf</v>" not in xml


def test_xlsx_missing_sheet_relationship_raises(tmp_path):
    """A workbook whose sheet r:id has no matching relationship must fail
    with a clear error, not a NoneType dereference (ADVICE r2)."""
    import zipfile

    import pytest as _pytest

    from lwetl_spark.sinks.xlsx_minimal import read_workbook, write_workbook

    src = str(tmp_path / "ok.xlsx")
    write_workbook([("S", ["a"], [(1,)])], src)
    broken = str(tmp_path / "broken.xlsx")
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(broken, "w") as zout:
        for item in zin.namelist():
            data = zin.read(item)
            if item == "xl/_rels/workbook.xml.rels":
                data = data.replace(b'Id="rIdS1"', b'Id="rIdWRONG"')
            zout.writestr(item, data)
    with _pytest.raises(ValueError, match="no worksheet relationship"):
        read_workbook(broken)


def test_xml_multi_sheet_excel_and_plain(spark):
    """Multi-result XML: excel dialect = one Workbook with N Worksheets;
    plain dialect = <document> with N named <table> blocks.  Single-sheet
    to_xml_string output is unchanged (k3 oracle is char-exact)."""
    import xml.etree.ElementTree as ET

    from lwetl_spark.sinks.formatter import to_xml_string, to_xml_string_sheets

    a = spark.createDataFrame([(1, "x")], "id int, v string")
    b = spark.createDataFrame([(2,)], "n int")

    excel = to_xml_string_sheets([("Sheet1", a), ("Sheet2", b)], dialect="excel")
    ns = {"ss": "urn:schemas-microsoft-com:office:spreadsheet"}
    root = ET.fromstring(excel)
    names = [
        ws.get("{urn:schemas-microsoft-com:office:spreadsheet}Name")
        for ws in root.findall("ss:Worksheet", ns)
    ]
    assert names == ["Sheet1", "Sheet2"]

    plain = to_xml_string_sheets([("s1", a), ("s2", b)], dialect="plain")
    doc = ET.fromstring(plain)
    assert [t.get("name") for t in doc.findall("table")] == ["s1", "s2"]
    assert doc.find("table[@name='s2']/row/n").text == "2"

    # single-sheet surface byte-stability: header + one worksheet
    single = to_xml_string(a, dialect="excel")
    assert single.count("<Worksheet") == 1 and 'ss:Name="Sheet1"' in single


def test_cli_xlsx_multi_statement(spark, tmp_path):
    """sql-query CLI routes multi-statement scripts to one sheet per
    statement (K6 + next_sheet parity)."""
    import io
    from contextlib import redirect_stdout

    from lwetl_spark.cli import main
    from lwetl_spark.sinks.xlsx_minimal import read_workbook

    out = str(tmp_path / "cli.xlsx")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "-d", "/root/testdata/sf0.001", "-f", "xlsx", "-o", out,
                "SELECT r_regionkey FROM region ORDER BY r_regionkey;"
                "SELECT COUNT(*) AS n FROM nation;",
            ]
        )
    assert rc == 0
    book = read_workbook(out)
    assert set(book) == {"Sheet1", "Sheet2"}
    assert [r[0] for r in book["Sheet1"][1:]] == [0, 1, 2, 3, 4]
    assert book["Sheet2"][1][0] == 25


def test_xmlp_pretty_output(spark):
    """Reference `xmlp` format: pretty-printed XML, same content."""
    import xml.etree.ElementTree as ET

    from lwetl_spark.sinks.formatter import to_xml_string

    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    plain = to_xml_string(df)
    pretty = to_xml_string(df, pretty=True)
    assert pretty != plain and pretty.count("\n") > plain.count("\n")
    # semantically identical documents
    def norm(t):
        root = ET.fromstring(t)
        for el in root.iter():
            if el.text is not None and not el.text.strip():
                el.text = None
            if el.tail is not None and not el.tail.strip():
                el.tail = None
        return ET.tostring(root)

    assert norm(pretty) == norm(plain)
