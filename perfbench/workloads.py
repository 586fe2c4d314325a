"""The benchmark workloads.

Each workload is a single closed-loop client: every call is issued only
after the previous one returned.  ``stage`` writes the seeded inputs and
computes the expected outputs; ``build`` makes the templates a pass
starts from and runs one untimed warm-up pass of the whole op sequence;
``run_pass`` runs the fixed op sequence once, on hardlink copies of the
templates, and records every call as a write (persists tables) or a
read (returns rows, top-k results or a gate verdict to the client).

Which per-layer metrics should move which end-to-end metric (the other
workload is the control that should not move):

- etl_copy: ``plans.db_copy.{jobs,driver_s,write_amp}`` and
  ``sinks.uploader.task_s`` move ``write_s`` and ``run_s``;
  ``sinks.formatter.busy_s`` and ``catalog.busy_s`` move ``read_s``.
- campaign: ``operators.incremental.{jobs,driver_s,write_amp}``,
  ``cli_curate.{task_s,shuffle_mb,gc_s}``, ``operators.media.task_s``
  and ``spark.core_util`` move ``write_s`` and ``run_s``;
  ``operators.retrieval.{jobs,driver_s,rows_read_per_hit}`` and
  ``operators.validate.busy_s`` move ``read_s``.
- both: ``session.start_s`` moves ``setup_s``.

A call's output is checked after its timer stops; a failed or wrong
call counts as a failure of the run.
"""

from __future__ import annotations

import csv
import glob
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import data as D
from spans import Span, Tracer, span_sum

#: the sql-query CLI's default output row cap
ROW_CAP = 1000


@dataclass
class Op:
    kind: str  # "write" or "read"
    name: str
    seconds: float
    ok: bool


def _link_tree(src: str, dst: str) -> None:
    """Copy a directory tree as hardlinks (parquet files are never
    modified in place, so a linked copy is safe and metadata-only)."""
    shutil.copytree(src, dst, copy_function=os.link)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _table_dir(df: pd.DataFrame, path: str) -> None:
    """A parquet table as a directory holding one part file, so the
    engine can append to it."""
    D.write_parquet(df, os.path.join(path, "part-00000.parquet"))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**/*.parquet", recursive=True))


class Workload:
    """Shared harness: op timing, output checks and span bookkeeping."""

    name = ""

    def __init__(self, spark, work: str, seed: int, sizes: D.Sizes, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.tracer = tracer
        self.harness_s = 0.0  # time spent isolating passes and checking outputs
        self.expect_s = 0.0  # time spent computing expectations and checking outputs
        self.warm_ops: list[Op] = []  # the untimed warm-up calls
        self.checking = True  # check each call's output
        self.setup_dir = os.path.join(work, "setup")
        self.pass_dir = os.path.join(work, "pass")

    # -- the op harness -------------------------------------------------
    def op(self, ops: list[Op], kind: str, name: str, fn, check):
        """Time one call; check its output after the timer stops."""
        with self.tracer.span(name) as sp:
            t0 = time.perf_counter()
            try:
                out, err = fn(), None
            except Exception as e:  # counted as a failed call; the run goes on
                out, err = None, e
            dt = time.perf_counter() - t0
        t_check = time.perf_counter()
        ok = err is None
        if err is not None:
            print(f"# {self.name}.{name} failed: {err!r}", file=sys.stderr)
            traceback.print_exception(err, file=sys.stderr)
        elif self.checking:
            try:
                why = check(out)
            except Exception as e:
                why = f"check raised {e!r}"
            if why:
                ok = False
                print(f"# {self.name}.{name} wrong output: {why}", file=sys.stderr)
        if not ok and sp is not None:
            for child in sp.children:
                child.failed = True
        ops.append(Op(kind, name, dt, ok))
        checked = time.perf_counter() - t_check
        self.harness_s += checked
        self.expect_s += checked
        return out

    def span(self, name: str, module: str):
        return self.tracer.span(name, module)

    def start_pass(self, templates: tuple[str, ...]) -> str:
        """Clear the pass directory and hardlink-copy the templates into it."""
        t = time.perf_counter()
        run = _fresh(self.pass_dir)
        for part in templates:
            _link_tree(f"{self.setup_dir}/{part}", f"{run}/{part}")
        self.harness_s += time.perf_counter() - t
        return run

    # -- per workload ---------------------------------------------------
    def stage(self) -> None:
        """Write the inputs and compute the expectations."""
        raise NotImplementedError

    def build(self) -> None:
        """Build the templates from the staged inputs, then warm up with
        one untimed pass."""
        self.run_pass(self.warm_ops)

    def run_pass(self, ops: list[Op]) -> None:
        raise NotImplementedError

    def extras(self, spans: list[Span]) -> dict[str, float]:
        """Workload-specific per-layer ratios over one pass's spans."""
        return {}


# ----------------------------------------------------------------------------
# etl_copy: the lwetl surface
# ----------------------------------------------------------------------------

SCRIPT = """
-- star join with group/having: net revenue by nation and segment
SELECT c.c_nationkey, c.c_mktsegment, COUNT(*) AS n_lines,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l.l_returnflag <> 'R'
GROUP BY c.c_nationkey, c.c_mktsegment
HAVING COUNT(*) > 20
ORDER BY revenue DESC, c.c_nationkey, c.c_mktsegment;
-- running total of order value per customer
SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_day, o_totalprice,
       ROUND(SUM(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
WHERE o_custkey % 10 = 3
ORDER BY o_custkey, o_day, o_orderkey;
-- the most expensive line items
SELECT l_itemkey, l_orderkey, l_quantity, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_itemkey
LIMIT 1000;
"""
#: the sql-query runs of a pass: the whole script to the terminal as
#: text tables, then one statement exported in each file format (by its
#: index in the script)
RENDERS = (("text", (0, 1, 2)), ("csv", (0,)), ("sql", (1,)), ("xlsx", (2,)))


def _cell_eq(got, exp) -> bool:
    if isinstance(exp, bool) or exp is None:
        return str(got) == str(exp)
    if isinstance(exp, float):
        return abs(float(got) - exp) <= 0.011 + 1e-9 * abs(exp)
    if isinstance(exp, (int, np.integer)):
        return float(got) == float(exp)
    return str(got) == str(exp)


def _rows_diff(got: list, exp: list) -> str:
    """'' when the rendered rows equal the expected ones, else why."""
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    for i, (g, e) in enumerate(zip(got, exp)):
        if len(g) != len(e) or not all(_cell_eq(a, b) for a, b in zip(g, e)):
            return f"row {i}: {g!r} != {e!r}"
    return ""


def _parse_rendered(fmt: str, out) -> list[list]:
    """Read the rows back out of one formatter output."""
    if fmt == "text":
        return [line.split() for line in out.splitlines()[1:]]
    if fmt == "sql":
        rows = []
        for line in out:
            vals = line[line.index(" VALUES (") + 9 : -2].split(", ")
            rows.append([v.removeprefix("DATE ").strip("'") for v in vals])
        return rows
    if fmt == "csv":
        rows = []
        for part in sorted(glob.glob(os.path.join(out, "part-*"))):
            with open(part, newline="") as fh:
                rows.extend(list(csv.reader(fh, delimiter=";"))[1:])
        return rows
    from lwetl_spark.sinks.xlsx_minimal import read_workbook

    path, sheet = out
    return read_workbook(path)[sheet][1:]


class EtlCopy(Workload):
    """CSV import + upload of the customer dimension, db-copy new and
    sync of the fact tables, catalog introspection, a sql-query script
    shown as text tables and exported in each file format, and a
    cardinality profile."""

    name = "etl_copy"

    def stage(self) -> None:
        import duckdb

        from lwetl_spark.sources.sqlscript import split_statements

        rng = np.random.default_rng(self.seed)
        tables = D.etl_tables(rng, self.sizes)
        customer = tables.pop("customer")
        mutated, self.touched = D.mutate(rng, {"lineitem": tables["lineitem"]})
        root = _fresh(self.setup_dir)
        for name, df in tables.items():
            _table_dir(df, f"{root}/src/{name}.parquet")
        for name, df in mutated.items():
            _table_dir(df, f"{root}/mut/{name}.parquet")
        self.csv_path = f"{root}/customer.csv"
        D.write_tsv(customer, self.csv_path)
        self.n_customers = len(customer)
        self.n_rows = {t: len(df) for t, df in tables.items()}

        # the target after sync holds the imported customers, the copied
        # orders and the mutated line items
        t = time.perf_counter()
        final = dict(customer=customer, orders=tables["orders"], lineitem=mutated["lineitem"])
        con = duckdb.connect()
        for name, df in final.items():
            con.register(name, df)
        self.expect_sql = [
            [list(r) for r in con.execute(stmt).fetchall()[:ROW_CAP]]
            for stmt in split_statements(SCRIPT)
        ]
        self.expect_schema = sorted(
            (name.upper(), col.upper())
            for name in final
            for col, *_ in con.execute(f"DESCRIBE {name}").fetchall()
        )
        cols = [c for c, *_ in con.execute("DESCRIBE orders").fetchall()]
        agg = ", ".join(f'COUNT("{c}"), COUNT(DISTINCT "{c}")' for c in cols)
        vals = con.execute(f"SELECT {agg} FROM orders").fetchone()
        self.expect_card = {c.upper(): (vals[2 * i], vals[2 * i + 1]) for i, c in enumerate(cols)}
        con.close()
        self.expect_s += time.perf_counter() - t

    def build(self) -> None:
        from lwetl_spark.operators.cardinality import table_checksum

        # the warm-up pass goes unchecked: the measured passes check the
        # same outputs, and the expected checksums are computed after it,
        # so the JVM's first jobs stay in the set-up time
        self.checking = False
        super().build()
        self.checking = True
        t = time.perf_counter()
        self.expect_checksum = {
            name: tuple(
                table_checksum(self.spark.read.parquet(f"{self.setup_dir}/{part}/{name}.parquet"))
                .collect()[0]
            )
            for name, part in (("orders", "src"), ("lineitem", "mut"))
        }
        self.expect_s += time.perf_counter() - t

    def run_pass(self, ops: list[Op]) -> None:
        from lwetl_spark.operators.cardinality import table_checksum
        from lwetl_spark.plans.db_copy import db_copy
        from lwetl_spark.sinks.uploader import Uploader, WritePolicy
        from lwetl_spark.sources.csv import csv_source

        spark = self.spark
        run = self.start_pass(("src", "mut"))
        trg = f"{run}/trg"
        dim_path = f"{trg}/customer.parquet"

        def import_csv():
            with self.span("csv_source", "sources"):
                df = csv_source(spark, self.csv_path)
            with self.span("Uploader.insert_df", "sinks.uploader"):
                Uploader(spark, dim_path, policy=WritePolicy.COMMIT).insert_df(df)

        self.op(
            ops, "write", "import_csv", import_csv,
            lambda _: "" if spark.read.parquet(dim_path).count() == self.n_customers
            else "customer row count",
        )

        def copy(mode: str, from_dir: str):
            def call():
                with self.span(f"db_copy.{mode}", "plans.db_copy"):
                    return db_copy(spark, from_dir, trg, D.PKS, mode=mode, activate=True)
            return call

        self.op(
            ops, "write", "copy_new", copy("new", f"{run}/src"),
            lambda st: "" if {t: v["inserted"] for t, v in st.items()} == self.n_rows
            else f"inserted {st}",
        )

        def check_sync(_):
            for name, want in self.expect_checksum.items():
                got = tuple(
                    table_checksum(spark.read.parquet(f"{trg}/{name}.parquet")).collect()[0]
                )
                if got != want:
                    return f"{name} checksum {got} != {want}"
            return ""

        self.op(ops, "write", "copy_sync", copy("sync", f"{run}/mut"), check_sync)

        self.reads(ops, trg)

    def reads(self, ops: list[Op], trg: str):
        """Catalog introspection, the sql-query runs, and the cardinality
        profile, over the target database."""
        from lwetl_spark.catalog import register_tables, schema_info
        from lwetl_spark.operators.cardinality import table_cardinality
        from lwetl_spark.sinks import formatter
        from lwetl_spark.sources.sqlscript import split_statements

        spark = self.spark
        run = os.path.dirname(trg)

        def introspect():
            with self.span("register_tables", "catalog"):
                info = schema_info(spark, register_tables(spark, trg, ("customer", *D.PKS)))
            with self.span("format_text_table", "sinks.formatter"):
                return formatter.format_text_table(info, max_rows=ROW_CAP)

        self.op(
            ops, "read", "introspect", introspect,
            lambda out: "" if sorted(
                (r[0], r[1]) for r in _parse_rendered("text", out)
            ) == self.expect_schema else "schema rows",
        )
        for fmt, picked in RENDERS:
            def script(fmt=fmt, picked=picked):
                """The sql-query CLI on the script, in one format."""
                with self.span("split_statements", "sources"):
                    stmts = list(split_statements(SCRIPT))
                dfs = [spark.sql(stmts[i]) for i in picked]
                with self.span(f"render.{fmt}", "sinks.formatter"):
                    if fmt == "text":
                        return [formatter.format_text_table(df, max_rows=ROW_CAP) for df in dfs]
                    if fmt == "sql":
                        return [
                            list(formatter.to_sql_inserts(df, "RESULT", max_rows=ROW_CAP))
                            for df in dfs
                        ]
                    if fmt == "csv":
                        paths = [f"{run}/q{i}.csv" for i in picked]
                        for df, path in zip(dfs, paths):
                            formatter.write_csv(df.limit(ROW_CAP), path)
                        return paths
                    path = f"{run}/script.xlsx"
                    formatter.write_xlsx_sheets(
                        [(f"Sheet{i + 1}", df) for i, df in zip(picked, dfs)], path,
                        max_rows=ROW_CAP,
                    )
                    return [(path, f"Sheet{i + 1}") for i in picked]

            def check(outs, fmt=fmt, picked=picked) -> str:
                if len(outs) != len(picked):
                    return f"{len(outs)} result sets"
                for i, out in zip(picked, outs):
                    why = _rows_diff(_parse_rendered(fmt, out), self.expect_sql[i])
                    if why:
                        return f"statement {i}: {why}"
                return ""

            self.op(ops, "read", f"script.{fmt}", script, check)

        def cardinality():
            with self.span("table_cardinality", "operators.cardinality"):
                rows = table_cardinality(spark.read.parquet(f"{trg}/orders.parquet")).collect()
            return {r["column_name"].upper(): (r["n_nonnull"], r["n_distinct"]) for r in rows}

        self.op(
            ops, "read", "cardinality", cardinality,
            lambda out: "" if out == self.expect_card else "orders cardinality profile",
        )

    def extras(self, spans: list[Span]) -> dict[str, float]:
        written = sum(
            j.out_records for sp in spans if sp.name == "db_copy.sync" for j in sp.jobs.values()
        )
        return {"plans.db_copy.write_amp": written / self.touched}


# ----------------------------------------------------------------------------
# campaign: one day of the crawl lifecycle
# ----------------------------------------------------------------------------

#: curate(): token floor, the Gopher rules, exact and near dedup.  The
#: Gopher thresholds are the defaults; the stopword list is the corpus'
#: own function words, since the default English list shares only "the"
#: with the vocabulary and its "two distinct stopwords" rule would drop
#: every document
CURATE_ARGS = dict(
    min_tokens=10, max_dup_fraction=0.5, dedup=True, gopher=True,
    gopher_stops=list(D.FUNCTION_WORDS),
)
CURATED_RULES = [
    {"rule": "id_not_null", "kind": "not_null", "col": "doc_id"},
    {"rule": "id_unique", "kind": "unique", "cols": ["doc_id"]},
    {"rule": "lang_known", "kind": "accepted_values", "col": "lang", "values": list(D.LANGS)},
    {"rule": "chars_positive", "kind": "range", "col": "n_chars", "lo": 1},
]
def mine_pairs(warc, out: str) -> None:
    """WARC shards -> (image, caption) pairs, written to ``out``.

    The pipeline of ``x_imgtext_pairs`` in lwetl_spark/queries_etl.py,
    call for call, from ``warc_payloads`` to the ``pairs`` frame and its
    checkpoint; there the pairs feed an increment, here they are
    written.  It reads the crawl's WARC table instead of generating the
    shards inline."""
    from pyspark.sql import functions as F

    from lwetl_spark.operators.media import (
        image_dhash,
        media_meta,
        sniff_decode_html,
        warc_payloads,
    )

    recs = warc_payloads(warc).localCheckpoint(
        eager=True
    )
    tag_re = r'<img src="([^"]*)" alt="([^"]*)"/>'
    refs = (
        sniff_decode_html(
            recs.filter(F.col("target_uri").startswith("http://site"))
            .select("doc_id", "payload"))
        .select("html")
        .select(F.explode(
            F.regexp_extract_all("html", F.lit(tag_re), 0)).alias("tag"))
        .select(
            F.regexp_extract("tag", tag_re, 1).alias("img_url"),
            F.regexp_extract("tag", tag_re, 2).alias("caption"),
        )
        .groupBy("img_url", "caption")
        .agg(F.count("*").alias("n_refs"))
    )
    imgs = recs.filter(
        ~F.col("target_uri").startswith("http://site")
        & (F.col("rec_type") == "response")
    ).select(
        (F.col("doc_id") * 1000 + F.col("rec_idx")).alias("doc_id"),
        "target_uri", "payload",
    ).localCheckpoint(eager=True)
    # header-only census gate FIRST (no decode), then dhash survivors
    gate = media_meta(imgs.select("doc_id", "payload")).filter(
        F.col("valid") & (F.col("width") >= 16) & (F.col("height") >= 16)
    ).select("doc_id")
    survivors = imgs.join(gate, "doc_id", "left_semi")
    hx = image_dhash(survivors.select("doc_id", "payload")).filter(
        "ok"
    ).join(survivors.select("doc_id", "target_uri"), "doc_id")
    groups = hx.groupBy("dhash").agg(
        F.min("target_uri").alias("img_url"),
        F.count("*").alias("n_copies"),
        F.max("width").alias("width"),
        F.max("height").alias("height"),
    )
    url2hash = hx.select(
        F.col("target_uri").alias("img_url"), "dhash").distinct()
    grefs = refs.join(url2hash, "img_url").groupBy("dhash").agg(
        F.min("caption").alias("caption"),
        F.sum("n_refs").alias("n_refs"),
    )
    pairs = groups.join(grefs, "dhash").localCheckpoint(eager=True)
    pairs.write.mode("overwrite").parquet(out)


def _fp(text: str) -> str:
    """The admission fingerprint's normalisation (lower(trim(text)))."""
    return text.strip(" ").lower()


class Campaign(Workload):
    """One day of the crawl lifecycle on a hardlink copy of a
    bootstrapped dual index (positional text index + IVF vector index):
    curate the day's documents and mine the image-text pairs of its WARC
    shards, gate the curated documents, admit them into both
    indexes, then probe the index just written with hybrid and phrase
    top-k query batches."""

    name = "campaign"
    K = 10
    N_QUERIES = 4

    def stage(self) -> None:
        s = self.sizes
        rng = np.random.default_rng(self.seed)
        docs = D.documents(rng, s.documents)
        emb = D.embeddings(rng, s.embeddings)
        order = rng.permutation(s.documents)
        n_base = s.documents - s.delta_docs
        base = docs.iloc[np.sort(order[:n_base])]
        day = docs.iloc[np.sort(order[n_base:])]
        root = _fresh(self.setup_dir)
        D.write_parquet(base[["doc_id", "text"]], f"{root}/base.parquet")
        self.crawl_dir = f"{root}/crawl"
        D.write_parquet(day, f"{self.crawl_dir}/documents.parquet")
        self.shard_ids = np.sort(rng.choice(day["doc_id"].to_numpy(), s.warc_shards, replace=False))
        D.write_parquet(
            emb.rename(columns={"vec_id": "doc_id"})[["doc_id", "embedding"]],
            f"{root}/emb.parquet",
        )
        # vector and term queries share query ids, outside the doc-id space
        qids = 9_000_001 + np.arange(self.N_QUERIES)
        D.write_parquet(D.term_queries(rng, self.N_QUERIES, int(qids[0])), f"{root}/tq.parquet")
        pick = np.sort(rng.choice(s.embeddings, self.N_QUERIES, replace=False))
        D.write_parquet(
            pd.DataFrame({"query_id": qids, "embedding": emb["embedding"].iloc[pick].to_list()}),
            f"{root}/vq.parquet",
        )
        D.write_parquet(D.phrase_queries(rng, self.N_QUERIES), f"{root}/ph.parquet")

        # the bootstrap admits the min id per fingerprint
        t = time.perf_counter()
        self.seen: set[str] = set()
        self.admitted: set[int] = set()
        for i, text in base[["doc_id", "text"]].itertuples(index=False):
            if _fp(text) not in self.seen:
                self.seen.add(_fp(text))
                self.admitted.add(i)
        self.expect_s += time.perf_counter() - t
        # set by the warm-up pass, the untimed reference run
        self.expect_kept = self.expect_pairs = self.expect_admitted = None
        self.ids_after: frozenset[int] = frozenset()

    def build(self) -> None:
        from fixtures import synth_warc_imgtext_demo
        from lwetl_spark.operators.incremental import ingest_increment

        root = self.setup_dir
        read = self.spark.read.parquet
        self.emb = read(f"{root}/emb.parquet")
        self.tq = read(f"{root}/tq.parquet")
        self.vq = read(f"{root}/vq.parquet")
        self.ph = read(f"{root}/ph.parquet")
        t = time.perf_counter()
        ingest_increment(
            self.spark, read(f"{root}/base.parquet"), f"{root}/m", f"{root}/s",
            f"{root}/x", embeddings=self.emb, vector_index_path=f"{root}/v",
            index_positions=True,
        )
        print(f"# bootstrap {time.perf_counter() - t:.2f}s", file=sys.stderr)
        shards = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": self.shard_ids.astype(np.int64)})
        ).repartition(self.spark.sparkContext.defaultParallelism)
        synth_warc_imgtext_demo(shards).write.mode("overwrite").parquet(f"{root}/warc")
        self.warc = read(f"{root}/warc")
        super().build()
        if not (self.expect_kept and self.expect_pairs and self.expect_admitted):
            raise RuntimeError(
                f"campaign inputs produce an empty output: kept {self.expect_kept}, "
                f"pairs {self.expect_pairs}, admitted {self.expect_admitted}")

    def _expect_admission(self, curated: str) -> None:
        """What the increment of the reference run must admit: the min id
        per fingerprint not admitted yet."""
        day = pq.read_table(curated, columns=["doc_id", "text"]).to_pandas()
        fresh: dict[str, int] = {}
        for i, text in day.sort_values("doc_id").itertuples(index=False):
            if _fp(text) not in self.seen and _fp(text) not in fresh:
                fresh[_fp(text)] = int(i)
        self.expect_admitted = len(fresh)
        self.ids_after = frozenset(self.admitted | set(fresh.values()))

    def run_pass(self, ops: list[Op]) -> None:
        from lwetl_spark.cli_curate import curate
        from lwetl_spark.operators.incremental import ingest_increment

        spark = self.spark
        run = self.start_pass(tuple("msxv"))
        curated = f"{run}/curated"

        def do_curate():
            with self.span("curate", "cli_curate"):
                return curate(spark, self.crawl_dir, curated, **CURATE_ARGS)

        def check_curate(st) -> str:
            if self.expect_kept is None:
                self.expect_kept = st["n_kept"]
                self._expect_admission(curated)
            return "" if st["n_kept"] == self.expect_kept else (
                f"kept {st['n_kept']} of {self.expect_kept}")

        self.op(ops, "write", "curate", do_curate, check_curate)

        def do_pairs():
            with self.span("mine_pairs", "operators.media"):
                mine_pairs(self.warc, f"{run}/pairs")
            return spark.read.parquet(f"{run}/pairs").count()

        def check_pairs(n) -> str:
            if self.expect_pairs is None:
                self.expect_pairs = n
            if n != self.expect_pairs:
                return f"{n} pairs of {self.expect_pairs}"
            pairs = pq.read_table(f"{run}/pairs").to_pandas()
            urls = pairs["img_url"]
            if not urls.str.startswith("http://").all() or urls.duplicated().any():
                return "pair image urls not unique http urls"
            if (pairs[["width", "height"]] < 16).any(axis=None) or pairs["caption"].isna().any():
                return "pair below the 16px gate or without caption"
            return ""

        self.op(ops, "write", "pairs", do_pairs, check_pairs)

        self.gate(ops, curated)

        def step():
            with self.span("ingest_increment", "operators.incremental"):
                return ingest_increment(
                    spark, spark.read.parquet(curated).select("doc_id", "text"),
                    f"{run}/m", f"{run}/s", f"{run}/x",
                    embeddings=self.emb, vector_index_path=f"{run}/v", snapshot_is_delta=True,
                )

        self.op(
            ops, "write", "increment", step,
            lambda st: "" if st["n_admitted"] == self.expect_admitted
            else f"admitted {st['n_admitted']} of {self.expect_admitted}",
        )

        self.probes(ops, run)

    def gate(self, ops: list[Op], curated: str) -> None:
        """The release gate over the curated documents: every rule passes
        on every row."""
        from lwetl_spark.operators.validate import validate

        def call():
            with self.span("validate", "operators.validate"):
                return validate(self.spark.read.parquet(curated), CURATED_RULES).collect()

        def check(rows) -> str:
            bad = [r["rule"] for r in rows if r["n_violations"]]
            if bad:
                return f"gate failed: {bad}"
            if any(r["n_checked"] != self.expect_kept for r in rows):
                return "gate checked the wrong row count"
            return ""

        self.op(ops, "read", "gate", call, check)

    def _probe_check(self, rows) -> str:
        per_q: dict[int, int] = {}
        for r in rows:
            per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
            if r["doc_id"] not in self.ids_after:
                return f"doc {r['doc_id']} not in the admitted corpus"
        if len(per_q) != self.N_QUERIES or set(per_q.values()) != {self.K}:
            return f"rows per query {per_q}"
        return ""

    def probes(self, ops: list[Op], index_dir: str) -> None:
        """Hybrid and phrase top-k query batches against an index."""
        from lwetl_spark.operators.retrieval import hybrid_topk, phrase_topk

        def probe(name: str, call):
            def run_probe():
                with self.span(name, "operators.retrieval") as sp:
                    rows = call().collect()
                    if sp is not None:
                        sp.counts["rows"] = len(rows)
                return rows
            self.op(ops, "read", name, run_probe, self._probe_check)

        probe("hybrid_topk", lambda: hybrid_topk(
            self.spark, f"{index_dir}/x", f"{index_dir}/v", self.tq, self.vq, k=self.K))
        probe("phrase_topk", lambda: phrase_topk(self.spark, f"{index_dir}/x", self.ph, k=self.K))

    def extras(self, spans: list[Span]) -> dict[str, float]:
        hits = sum(sp.counts.get("rows", 0) for sp in spans if sp.module == "operators.retrieval")
        return {
            "operators.incremental.write_amp":
                span_sum(spans, "operators.incremental", "out_bytes")
                / _dir_bytes(f"{self.pass_dir}/curated"),
            "operators.retrieval.rows_read_per_hit":
                span_sum(spans, "operators.retrieval", "in_records") / hits if hits else 0.0,
        }


WORKLOADS = {w.name: w for w in (EtlCopy, Campaign)}
