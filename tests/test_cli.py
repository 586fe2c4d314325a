"""CLI (sql-query, SURVEY C1) end-to-end through the argv surface."""

from __future__ import annotations

import io
from contextlib import redirect_stdout


def _run(argv: list[str]) -> str:
    from lwetl_spark.cli import main

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(argv)
    assert rc == 0
    return buf.getvalue()


def test_cli_list(spark):
    out = _run(["-d", "/root/testdata/sf0.001", "list"])
    assert "lineitem" in out and "embeddings" in out


def test_cli_table_shorthand_text(spark):
    out = _run(["-d", "/root/testdata/sf0.001", "-m", "3", "region"])
    assert "r_name" in out.splitlines()[0]
    assert len(out.splitlines()) == 4


def test_cli_multi_statement_csv(spark):
    out = _run(
        ["-d", "/root/testdata/sf0.001", "-f", "csv",
         "SELECT COUNT(*) AS n FROM region; SELECT COUNT(*) AS n FROM nation"]
    )
    lines = [l for l in out.splitlines() if l]
    assert lines == ["n", "5", "n", "25"]


def test_cli_sql_format(spark):
    out = _run(
        ["-d", "/root/testdata/sf0.001", "-f", "sql", "-m", "2", "--table", "R",
         "SELECT r_name FROM region ORDER BY r_name"]
    )
    assert out.splitlines()[0] == "INSERT INTO R (r_name) VALUES ('AFRICA');"


def test_cli_db_copy_plan_and_run(spark, tmp_path):
    """C2 CLI: plan listing, staged default, activated copy."""
    import os

    from lwetl_spark.catalog import load_table
    from lwetl_spark.cli_db_copy import main as copy_main

    src = str(tmp_path / "src")
    trg = str(tmp_path / "trg")
    os.makedirs(src)
    os.makedirs(trg)
    load_table(spark, "/root/testdata/sf0.001", "region").write.parquet(
        os.path.join(src, "region.parquet")
    )
    out = _run_main(copy_main, [src, trg, "-l"])
    assert "region: src=5 trg=0 [missing]" in out
    out = _run_main(copy_main, [src, trg, "--pk", "region=r_regionkey"])
    assert "staged only" in out
    assert not os.path.exists(os.path.join(trg, "region.parquet"))
    out = _run_main(copy_main, [src, trg, "--pk", "region=r_regionkey", "-a"])
    assert "region: inserted=5" in out
    assert spark.read.parquet(os.path.join(trg, "region.parquet")).count() == 5


def test_cli_cardinality_profile(spark):
    from lwetl_spark.cli_cardinality import main as card_main

    out = _run_main(card_main, ["-d", "/root/testdata/sf0.001", "nation"])
    assert "n_nationkey" in out and "n_regionkey" in out
    out = _run_main(card_main, ["-d", "/root/testdata/sf0.001", "nation", "--histogram", "n_regionkey"])
    assert "N" in out.splitlines()[1]


def _run_main(fn, argv):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = fn(argv)
    assert rc == 0
    return buf.getvalue()


def test_cli_security_keygen_encrypt_decrypt(tmp_path, capsys, monkeypatch):
    from lwetl_spark.cli_security import main as sec_main

    keyfile = tmp_path / "k.key"
    assert sec_main(["keygen", "-o", str(keyfile)]) == 0
    monkeypatch.setenv("LWETL_SPARK_KEY", keyfile.read_text().strip())
    capsys.readouterr()

    assert sec_main(["encrypt", "s3cret"]) == 0
    token = capsys.readouterr().out.strip()
    assert token.startswith("ENC:")

    assert sec_main(["decrypt", token]) == 0
    assert capsys.readouterr().out.strip() == "s3cret"


def test_cli_security_test_probe(spark, tmp_path, capsys):
    import yaml

    from lwetl_spark.cli_security import main as sec_main

    cfg = tmp_path / "cfg.yml"
    cfg.write_text(yaml.safe_dump({
        "sources": {"smoke": {"path": "/root/testdata/sf0.001", "format": "parquet_dir"}},
        "alias": {"s": "smoke"},
    }))
    assert sec_main(["test", "s", "-c", str(cfg)]) == 0
    out = capsys.readouterr().out
    assert "region\t" in out and "lineitem\t" in out


def test_cli_security_unknown_source(tmp_path, capsys):
    from lwetl_spark.cli_security import main as sec_main

    cfg = tmp_path / "cfg.yml"
    cfg.write_text("sources: {}\n")
    assert sec_main(["test", "nope", "-c", str(cfg)]) == 1
    assert "error" in capsys.readouterr().out


def test_cli_jdbc_info_and_table_info(spark):
    """VERDICT r1 #5: jdbc_info (reference sql_query/main.py:282-283) and
    table_info special commands, backed by engine_info/schema_info."""
    out = _run(["-d", "/root/testdata/sf0.001", "jdbc_info"])
    assert "spark.version" in out and "spark.sql.shuffle" in out

    out = _run(["-d", "/root/testdata/sf0.001", "table_info"])
    assert "TABLE_NAME" in out.splitlines()[0]
    assert "REGION" in out and "R_NAME" in out


def test_security_console_script_wired():
    """Parity with reference setup.py:35-42: all four programs are
    installable entry points."""
    import tomllib

    with open("/root/repo/pyproject.toml", "rb") as f:
        scripts = tomllib.load(f)["project"]["scripts"]
    assert scripts["lwetl-spark-security"] == "lwetl_spark.cli_security:main"
    for prog in ("sql", "db-copy", "cardinality", "security"):  # reference's four
        assert f"lwetl-spark-{prog}" in scripts
    assert scripts["lwetl-spark-curate"] == "lwetl_spark.cli_curate:main"

    from lwetl_spark.cli_curate import main as curate_main
    from lwetl_spark.cli_security import main  # imports cleanly

    assert callable(main) and callable(curate_main)


def test_cli_curate_end_to_end(spark, tmp_path):
    """corpus-curate: quality gate + span filter + exact dedup +
    decontamination in one pass, curated parquet + xlsx report out."""
    from lwetl_spark.cli_curate import main
    from lwetl_spark.sinks.xlsx_minimal import read_workbook

    bench = str(tmp_path / "bench_parquet")
    spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], "text string"
    ).write.parquet(bench)
    out = str(tmp_path / "curated")
    report = str(tmp_path / "report.xlsx")
    rc = main(
        [
            "-d", "/root/testdata/sf0.001", "-o", out,
            "--min-tokens", "5", "--max-dup-fraction", "0.9",
            "--decontaminate", bench, "--report", report,
        ]
    )
    assert rc == 0
    curated = spark.read.parquet(out)
    n_in = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    n_out = curated.count()
    assert 0 < n_out <= n_in
    assert curated.selectExpr("min(size(split(trim(text), '\\\\s+')))").first()[0] >= 5
    # exact dedup happened: normalized digests are unique
    from pyspark.sql import functions as F

    dg = curated.select(
        F.md5(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))).alias("d")
    )
    assert dg.distinct().count() == n_out
    book = read_workbook(report)
    assert set(book) == {"summary", "params"}
    assert ["param", "value"] == book["params"][0]


def test_cli_curate_round3_stages(spark, tmp_path):
    """curate with the r3 stages: Gopher battery + fluency-tail drop +
    fuzzy decontamination + sharded output."""
    from pyspark.sql import functions as F

    from lwetl_spark.cli_curate import main

    bench = str(tmp_path / "bench_parquet")
    spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], "text string"
    ).write.parquet(bench)
    out = str(tmp_path / "curated_shards")
    rc = main(
        [
            "-d", "/root/testdata/sf0.001", "-o", out,
            "--min-tokens", "5",
            "--drop-fluency-tail",
            "--decontaminate", bench, "--fuzzy-decontaminate",
            "--shards", "4",
        ]
    )
    assert rc == 0
    curated = spark.read.parquet(out)
    n_in = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    n_out = curated.count()
    assert 0 < n_out < n_in  # the fluency tail (~25%/lang) must drop
    # sharded layout with deterministic assignment
    assert "shard" in curated.columns
    from lwetl_spark.operators.sampling import shard_by_key

    expect = shard_by_key(curated.drop("shard"), "doc_id", 4)
    mism = (
        curated.select("doc_id", F.col("shard").cast("int").alias("shard"))
        .exceptAll(expect.select("doc_id", F.col("shard").cast("int")))
        .count()
    )
    assert mism == 0
    assert curated.filter(F.size(F.split(F.trim("text"), r"\s+")) < 5).count() == 0


def test_cli_curate_gopher_stage(spark, tmp_path):
    """The --gopher stage drops rule-violating docs and keeps clean ones
    (crafted corpus: the synthetic testdata lacks Gopher stopwords)."""
    from lwetl_spark.cli_curate import curate

    sf = str(tmp_path / "sf")
    good = "the be to of and that have with " + " ".join(
        f"word{i:03d}" for i in range(20)
    )
    bad = "the be " + " ".join(["123"] * 30)  # alpha-word rule fails
    spark.createDataFrame(
        [(1, good, "en", len(good), "s"), (2, bad, "en", len(bad), "s")],
        "doc_id long, text string, lang string, n_chars int, source string",
    ).write.parquet(sf + "/documents.parquet")
    out = str(tmp_path / "out")
    stats = curate(
        spark, sf, out, min_tokens=1, dedup=False,
        gopher=True, gopher_min_words=5,
    )
    assert stats["n_input"] == 2 and stats["n_kept"] == 1
    kept = spark.read.parquet(out)
    assert [r["doc_id"] for r in kept.collect()] == [1]


def test_cli_validate_end_to_end(spark, tmp_path, capsys):
    """lwetl-spark-validate: clean rules exit 0; violating rules print a
    census and exit 2 in CI-gate mode."""
    import json

    from lwetl_spark.cli_validate import main

    rules = [
        {"rule": "custkey_not_null", "kind": "not_null", "col": "o_custkey"},
        {"rule": "price_pos", "kind": "range", "col": "o_totalprice", "lo": 0},
        {"rule": "pk", "kind": "unique", "cols": ["o_orderkey"]},
        {
            "rule": "fk_customer",
            "kind": "foreign_key",
            "col": "o_custkey",
            "parent": "customer",
            "parent_col": "c_custkey",
        },
    ]
    rf = tmp_path / "rules.json"
    rf.write_text(json.dumps(rules))
    rc = main(["orders", "-r", str(rf), "-d", "/root/testdata/sf0.001",
               "--fail-on-violation"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "all 4 rule(s) clean" in out
    assert "custkey_not_null" in out

    bad = [{"rule": "impossible", "kind": "range", "col": "o_totalprice",
            "hi": -1}]
    rf.write_text(json.dumps(bad))
    rc = main(["orders", "-r", str(rf), "-d", "/root/testdata/sf0.001",
               "--fail-on-violation"])
    out = capsys.readouterr().out
    assert rc == 2
    assert "violation(s)" in out


def test_cli_validate_unknown_table_and_parent(spark, tmp_path, capsys):
    import json

    from lwetl_spark.cli_validate import main

    rf = tmp_path / "r.json"
    rf.write_text(json.dumps([{"rule": "x", "kind": "not_null", "col": "c"}]))
    assert main(["nope", "-r", str(rf), "-d", "/root/testdata/sf0.001"]) == 1
    rf.write_text(
        json.dumps([{"rule": "x", "kind": "foreign_key", "col": "o_custkey",
                     "parent": "ghost", "parent_col": "g"}])
    )
    assert main(["orders", "-r", str(rf), "-d", "/root/testdata/sf0.001"]) == 1


def test_cli_curate_quality_model_stage(spark, tmp_path):
    """VERDICT r4 #4: --quality-model trains the IRLS logreg on the
    Gopher pass/fail labels and drops the low-score tail.  Crafted
    corpus: 8 clean docs (stopword-rich, alpha words) + 8 junk docs
    (numeric, punct-heavy — every Gopher-fail pattern the features
    separate).  The model must (a) learn a separating β (recorded in
    stats), (b) drop >= the tail fraction, and (c) drop junk docs
    before clean ones — the scorer generalizes the rule battery."""
    from lwetl_spark.cli_curate import curate

    sf = str(tmp_path / "sf")
    rows = []
    for i in range(8):
        good = (
            "the be to of and that have with it for not on he as "
            + " ".join(f"word{i}{j:02d}" for j in range(25))
        )
        rows.append((i, good, "en", len(good), "s"))
    for i in range(8, 16):
        bad = "%% " + " ".join([f"{i}1234 !!!"] * 15)
        rows.append((i, bad, "en", len(bad), "s"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars int, source string"
    ).write.parquet(sf + "/documents.parquet")

    out = str(tmp_path / "out")
    stats = curate(
        spark, sf, out, min_tokens=1, dedup=False,
        quality_model=True, quality_tail=0.5, gopher_min_words=5,
    )
    assert stats["n_input"] == 16
    assert stats["quality_beta"] is not None
    assert stats["quality_threshold"] is not None
    # >= half dropped (strict-> threshold ties drop together)
    assert stats["n_kept"] <= 8
    kept_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # no junk doc may outrank a clean doc: all kept docs are clean
    assert kept_ids <= set(range(8)), kept_ids
    # internal feature/score columns must not leak into the output
    assert set(spark.read.parquet(out).columns) == {
        "doc_id", "text", "lang", "n_chars", "source"
    }

    # degenerate labels (all docs pass the battery): stage records the
    # skip and passes everything through unchanged
    out2 = str(tmp_path / "out2")
    sf2 = str(tmp_path / "sf2")
    spark.createDataFrame(
        rows[:8], "doc_id long, text string, lang string, n_chars int, source string"
    ).write.parquet(sf2 + "/documents.parquet")
    stats2 = curate(
        spark, sf2, out2, min_tokens=1, dedup=False,
        quality_model=True, quality_tail=0.5, gopher_min_words=5,
    )
    assert stats2["quality_beta"] is None
    assert stats2["n_kept"] == 8


def test_doc_perplexity_hand_corpus_and_reference_lm(spark):
    """doc_perplexity on a 3-doc corpus whose bigram table is small
    enough to hand-compute; the reference-LM path scores unseen
    bigrams as maximum surprisal (cond_ppm 0)."""
    from pyspark.sql import functions as F

    from lwetl_spark.operators.sampling import doc_perplexity

    # bigrams: (a,b)x2 from docs 1 and 3; (a,c)x1 from doc2; (b,a)x1;
    # context counts: a->3, b->1; smoothed (k=4): /(c1+4)
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "a b")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in doc_perplexity(docs).collect()}
    p_ba = 2 * 1000000 // (3 + 4)   # P(b|a): 285714
    p_ca = 1 * 1000000 // (3 + 4)   # P(c|a): 142857
    p_ab = 1 * 1000000 // (1 + 4)   # P(a|b): 200000
    assert out[1]["n_bigrams"] == 2
    assert out[1]["predictability_ppm"] == (p_ba + p_ab) // 2
    assert out[1]["surprisal_ppm"] == 1000000 - (p_ba + p_ab) // 2
    assert out[2]["predictability_ppm"] == p_ca
    assert out[3]["predictability_ppm"] == p_ba

    # reference LM: only (a,b) is known at 600000 ppm (pre-smoothed by
    # its trainer — the lm path applies no further smoothing)
    lm = spark.createDataFrame(
        [("a", "b", 600000)], "w1 string, w2 string, cond_ppm long"
    )
    ref = {r["doc_id"]: r for r in doc_perplexity(docs, lm=lm).collect()}
    assert ref[3]["predictability_ppm"] == 600000
    assert ref[2]["predictability_ppm"] == 0        # unseen bigram
    assert ref[2]["surprisal_ppm"] == 1000000       # maximum surprisal
    assert ref[1]["predictability_ppm"] == (600000 + 0) // 2


def test_cli_curate_ppl_filter_stage(spark, tmp_path):
    """VERDICT r7 #4: --ppl-filter drops the high-surprisal tail under
    the corpus's own bigram LM.  Crafted corpus: 9 template docs share
    their bigrams (high P(w2|w1), low surprisal) and 3 gibberish docs
    are all singleton bigrams (cond_ppm small) — the gate must drop
    gibberish first, record the threshold, and keep ties together."""
    from lwetl_spark.cli_curate import curate

    sf = str(tmp_path / "sf")
    rows = []
    for i in range(9):
        rows.append((i, "the quick brown fox jumps over the lazy dog",
                     "en", 40, "s"))
    for i in range(9, 12):
        gib = " ".join(f"zx{i}{j}" for j in range(9))
        rows.append((i, gib, "en", 40, "s"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars int, source string"
    ).write.parquet(sf + "/documents.parquet")

    out = str(tmp_path / "out")
    stats = curate(
        spark, sf, out, min_tokens=1, dedup=False,
        ppl_filter=True, ppl_tail=0.25, attribution=True,
    )
    assert stats["n_input"] == 12
    assert stats["ppl_threshold"] is not None
    kept_ids = {
        r["doc_id"]
        for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert kept_ids == set(range(9))  # every gibberish doc dropped
    assert stats["n_after_ppl_filter"] == 9


def test_cli_curate_html_extract_stage(spark, tmp_path):
    """--html-extract strips boilerplate BEFORE the gates: a markup-
    heavy doc whose prose passes min_tokens survives, while one whose
    apparent length is all tags (prose too short) now drops."""
    from lwetl_spark.cli_curate import curate

    sf = str(tmp_path / "sf")
    prose = " ".join(f"word{j}" for j in range(12))
    rows = [
        (1, f"<html><body><p>{prose}</p></body></html>", "en", 1, "s"),
        (2, "<div><span></span></div>" * 20 + "<p>short text</p>",
         "en", 1, "s"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars int, source string"
    ).write.parquet(sf + "/documents.parquet")

    out = str(tmp_path / "out")
    stats = curate(spark, sf, out, min_tokens=10, dedup=False,
                   html_extract=True)
    kept = spark.read.parquet(out)
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {1}
    assert kept.collect()[0]["text"] == prose  # markup gone, prose intact
    assert stats["n_kept"] == 1


def test_cli_curate_size_gate_fails_closed(spark, tmp_path, monkeypatch):
    """The spread corpus is checkpointed only when the optimizer's size
    estimate is known and small: with no estimate curate skips the
    checkpoint, and its stats match a run that took it."""
    from lwetl_spark import cli_curate
    from lwetl_spark.operators import _fsutil, _parallel

    sf = str(tmp_path / "sf")
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12 + i % 5)), "en", 60, "s")
        for i in range(40)
    ]
    rows += [(100 + i, rows[i][1], "en", 60, "s") for i in range(5)]  # exact dups
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars int, source string"
    ).coalesce(1).write.parquet(sf + "/documents.parquet")

    spread_out, checkpointed = [], []
    orig_spread = _parallel.spread
    orig_mat = _fsutil.materialize

    def spy_spread(df):
        spread_out.append(orig_spread(df))
        return spread_out[-1]

    def spy_mat(df):
        checkpointed.append(df)
        return orig_mat(df)

    monkeypatch.setattr(_parallel, "spread", spy_spread)
    monkeypatch.setattr(_fsutil, "materialize", spy_mat)

    def run(out):
        spread_out.clear()
        checkpointed.clear()
        stats = cli_curate.curate(spark, sf, str(tmp_path / out), min_tokens=12)
        wide = spread_out[0]
        return stats, wide, any(f is wide for f in checkpointed)

    known, wide, took = run("known")
    assert wide.rdd.getNumPartitions() > 1 and took  # a known, small size
    monkeypatch.setattr(cli_curate, "_size_estimate", lambda df: None)
    unknown, wide, took = run("unknown")
    assert not took
    assert unknown == known and known["n_input"] == 45
