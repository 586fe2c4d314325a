"""`formatter._rows`, the one row source of every presentation sink:
a capped render is one bounded collect, an uncapped render streams over
`toLocalIterator`, and both render the rows a plain `toLocalIterator`
loop would."""
from __future__ import annotations

import pytest

from lwetl_spark.sinks import formatter
from tests.conftest import SF_SMOKE
from tests.test_cli import _run as _cli
from tests.test_fsutil import _jobs


def _reference_rows(df, max_rows):
    """The row loop every sink ran before `_rows`."""
    out = []
    for i, row in enumerate(df.toLocalIterator()):
        if max_rows is not None and i >= max_rows:
            break
        out.append(row)
    return out


def _renders(df, max_rows):
    return (
        formatter.format_text_table(df, max_rows=max_rows),
        list(formatter.to_sql_inserts(df, "T", max_rows=max_rows)),
        formatter.to_xml_string(df, dialect="plain", max_rows=max_rows),
        formatter.to_xml_string(df, dialect="excel", max_rows=max_rows),
    )


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rows") / "t")
    # a parquet scan has no static row bound, like the tables sql-query reads
    spark.range(0, 300, 1, 4).selectExpr(
        "id", "id % 7 AS k", "concat('s', id) AS s", "id * 0.5 AS v"
    ).write.parquet(path)
    ordered = spark.read.parquet(path).orderBy("k", "id")  # a total order
    unordered = spark.createDataFrame(
        spark.sparkContext.parallelize([(i, f"r{i}") for i in range(40)], 4),
        "a long, b string",
    )
    assert unordered.rdd.getNumPartitions() == 4
    return {"ordered": ordered, "unordered": unordered}


@pytest.mark.parametrize("kind", ["ordered", "unordered"])
@pytest.mark.parametrize("max_rows", [None, 0, 7, 10_000])
def test_rows_render_like_the_local_iterator_loop(frames, monkeypatch, kind, max_rows):
    df = frames[kind]
    got = _renders(df, max_rows)
    monkeypatch.setattr(formatter, "_rows", _reference_rows)
    assert got == _renders(df, max_rows)
    n = df.count() if max_rows is None else min(max_rows, df.count())
    assert len(got[1]) == n


@pytest.mark.parametrize("max_rows", [0, -1])
def test_zero_and_negative_caps_render_no_rows(frames, max_rows):
    df = frames["ordered"]
    text = formatter.format_text_table(df, max_rows=max_rows)
    assert text.splitlines() == [text.splitlines()[0]]
    assert text.split() == ["id", "k", "s", "v"]
    assert list(formatter.to_sql_inserts(df, "T", max_rows=max_rows)) == []


def test_schema_info_renders_in_one_job(spark):
    from lwetl_spark.catalog import schema_info

    tables = {
        "a": spark.range(3),
        "b": spark.createDataFrame([(1, "x", 2.0)], "k int, s string, v double"),
    }
    out, jobs = _jobs(
        spark, lambda: formatter.format_text_table(schema_info(spark, tables), max_rows=1000)
    )
    assert jobs <= 1
    assert [l.split()[:2] for l in out.splitlines()[1:]] == [
        ["A", "ID"], ["B", "K"], ["B", "S"], ["B", "V"],
    ]


def _spy(monkeypatch, df):
    """Record the row-fetch methods the sinks call on frames of
    ``df``'s class."""
    calls = []
    cls = type(df)
    for name in ("collect", "toLocalIterator"):
        orig = getattr(cls, name)

        def spy(self, *a, _orig=orig, _name=name, **kw):
            calls.append(_name)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(cls, name, spy)
    return calls


def test_uncapped_render_streams(frames, monkeypatch):
    calls = _spy(monkeypatch, frames["unordered"])
    lines = list(formatter.to_sql_inserts(frames["unordered"], "T"))
    assert len(lines) == 40
    assert calls == ["toLocalIterator"]


def test_capped_render_is_one_collect(frames, monkeypatch):
    calls = _spy(monkeypatch, frames["ordered"])
    text = formatter.format_text_table(frames["ordered"], max_rows=5)
    assert len(text.splitlines()) == 6
    assert calls == ["collect"]


def test_api_query_zero_cap_is_no_cap(spark):
    from lwetl_spark.api import SparkEtl

    etl = SparkEtl(SF_SMOKE, spark=spark)
    sql = "SELECT n_nationkey FROM nation ORDER BY n_nationkey"
    assert [r[0] for r in etl.query(sql, max_rows=0)] == list(range(25))
    assert list(etl.query(sql, max_rows=-1)) == []


def test_cli_negative_cap_prints_headers_only(spark):
    sql = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
    assert _cli(["-d", SF_SMOKE, "-f", "csv", "-m", "-1", sql]).split() == [
        "r_regionkey;r_name"
    ]
    assert _cli(["-d", SF_SMOKE, "-f", "sql", "-m", "-1", sql]) == ""


def test_cli_xml_renders_each_statement(spark):
    one = _cli(["-d", SF_SMOKE, "-f", "xml", "-m", "2",
                "SELECT r_name FROM region ORDER BY r_name"])
    assert one == (
        "<table>\n  <row><r_name>AFRICA</r_name></row>\n"
        "  <row><r_name>AMERICA</r_name></row>\n</table>\n"
    )
    two = _cli(["-d", SF_SMOKE, "-f", "xml", "-m", "1",
                "SELECT COUNT(*) AS n FROM region; SELECT COUNT(*) AS n FROM nation"])
    assert two.count('<table name="Sheet') == 2
    assert "<n>5</n>" in two and "<n>25</n>" in two
