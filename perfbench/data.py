"""Seeded input generation for the benchmark.

Every input the engine sees is generated here from ``--seed``: the
TPC-H-like tables of ``etl_copy`` and their mutated sync copy, and the
documents/embeddings corpus of ``campaign`` with the day's crawl slice
and the probe queries.  The same seed and sizes give
the same inputs.

The shapes follow the repository's fixed test tables (``sf0.1``:
customer 15k, orders 150k, lineitem 600k, documents 5k, embeddings 2k
rows, generated with seed 42).  Each constant below records what was
measured there; the generators draw every column independently from
that measured distribution, as the test tables do.  Only the row counts
of the star schema are smaller (those of ``sf0.01``), and ``lineitem``
gets a single-column key ``l_itemkey`` (the row number), because the
test table has no unique key and db-copy syncs by primary key.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# -- documents (sf0.1 documents.parquet, 5000 rows) ---------------------------
#: the corpus vocabulary: 30 words, drawn uniformly (measured counts per
#: word 8829-9182 of 270704 tokens); "dup" only marks near-duplicates
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: the vocabulary's function words (the only ones in the default Gopher
#: stopword list is "the")
FUNCTION_WORDS = ("a", "the")
#: tokens per document: uniform on [10, 100] (measured min 10, max 100,
#: mean 54.1, flat histogram over nine bins of 513-592 documents)
DOC_TOKENS = (10, 100)
#: share of near-duplicates: another document's text plus the token
#: " dup" (measured 250 of 5000 end in " dup", 245 of them copy another
#: document; exact duplicates, 0.16%, arise when two of them copy the
#: same text)
NEAR_DUP_SHARE = 0.05
#: language shares (measured en 2059, zh 753, es 744, fr 742, de 702)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
#: sources: ``src{doc_id % 20}`` (measured: 20 sources of 250 documents)
N_SOURCES = 20

# -- embeddings (sf0.1 embeddings.parquet, 2000 rows) -------------------------
#: unit-norm float vectors of 64 dims with a label in 0..9 (measured: norm
#: 1.0, per-dim sd 0.125, class sizes 182-218; the class means spread by
#: 0.0089, the sampling noise of 200 unit vectors, so labels carry no
#: geometric structure)
EMB_DIM = 64
EMB_LABELS = 10

# -- TPC-H-like star schema (sf0.1 customer/orders/lineitem) ------------------
#: keys run 0..n-1 (measured, all three tables)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
N_NATIONS = 25  # c_nationkey uniform on 0..24
ACCTBAL = (-999.99, 9999.99)  # uniform, 2 dp (measured -999.85 .. 9999.80)
TOTALPRICE = (1000.0, 500_000.0)  # uniform, 2 dp (measured 1001.91 .. 499993.18)
ORDER_DAYS = (datetime.date(1995, 1, 1), 2405)  # uniform day offset (measured 2405 days)
#: line items pick their order uniformly (measured: lines per order are
#: Poisson-like with mean 4, 1.8% of orders have none)
LINES_PER_ORDER = 4
LINENUMBERS = 7  # uniform on 1..7, independent of the order
PARTS_PER_SF = 200_000  # l_partkey uniform on 0..20k-1 at sf0.1
SUPPS_PER_SF = 10_000  # l_suppkey uniform on 0..1k-1 at sf0.1
QUANTITY = 50  # uniform integer 1..50
EXTPRICE = (900.0, 105_000.0)  # uniform, 2 dp, independent of quantity
DISCOUNTS = 11  # uniform on 0.00..0.10
TAXES = 9  # uniform on 0.00..0.08
SHIP_DAYS = (datetime.date(1995, 1, 2), 2499)  # uniform day offset, independent of the order date
#: o_orderstatus, l_returnflag and l_linestatus are uniform over these
ORDER_STATUS = ("F", "O", "P")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")


@dataclass(frozen=True)
class Sizes:
    """Row counts of the generated inputs."""

    customers: int
    orders: int
    documents: int
    embeddings: int
    delta_docs: int  # documents of the campaign's day's crawl
    warc_shards: int  # WARC shards of the day's crawl


FULL = Sizes(
    customers=1_500, orders=15_000, documents=5_000,
    embeddings=2_000, delta_docs=500, warc_shards=200,
)
SMOKE = Sizes(
    customers=150, orders=1_500, documents=500,
    embeddings=200, delta_docs=50, warc_shards=40,
)

#: the tables db_copy syncs, by single-column primary key
PKS = {"orders": "o_orderkey", "lineitem": "l_itemkey"}


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """One parquet file per table, no pandas index metadata."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _money(rng: np.random.Generator, bounds: tuple[float, float], n: int) -> np.ndarray:
    return np.round(rng.uniform(bounds[0], bounds[1], n), 2)


def _dates(rng: np.random.Generator, span: tuple[datetime.date, int], n: int) -> np.ndarray:
    first, days = span
    return (
        np.datetime64(first, "ms")
        + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[ms]")
    )


def etl_tables(rng: np.random.Generator, s: Sizes) -> dict[str, pd.DataFrame]:
    """The star schema: the customer dimension (imported from CSV) and
    the orders and lineitem facts."""
    nc = s.customers
    customer = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, N_NATIONS, nc).astype(np.int32),
        "c_acctbal": _money(rng, ACCTBAL, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    no = s.orders
    orders = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(ORDER_STATUS, no),
        "o_totalprice": _money(rng, TOTALPRICE, no),
        "o_orderdate": _dates(rng, ORDER_DAYS, no),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = no * LINES_PER_ORDER
    scale = no / 150_000  # the sf of the orders table
    lineitem = pd.DataFrame({
        "l_itemkey": np.arange(nl, dtype=np.int64),
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, max(1, round(PARTS_PER_SF * scale)), nl).astype(np.int64),
        "l_suppkey": rng.integers(0, max(1, round(SUPPS_PER_SF * scale)), nl).astype(np.int64),
        "l_linenumber": rng.integers(1, LINENUMBERS + 1, nl).astype(np.int32),
        "l_quantity": rng.integers(1, QUANTITY + 1, nl).astype(np.float64),
        "l_extendedprice": _money(rng, EXTPRICE, nl),
        "l_discount": rng.integers(0, DISCOUNTS, nl) / 100.0,
        "l_tax": rng.integers(0, TAXES, nl) / 100.0,
        "l_returnflag": rng.choice(RETURN_FLAGS, nl),
        "l_linestatus": rng.choice(LINE_STATUS, nl),
        "l_shipdate": _dates(rng, SHIP_DAYS, nl),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def write_tsv(df: pd.DataFrame, path: str) -> None:
    """The reference's CSV import format: tab-separated with a header
    row, numbers followed by a trailing space."""
    df.to_csv(path, sep="\t", index=False, float_format="%.2f ")


def mutate(
    rng: np.random.Generator, tables: dict[str, pd.DataFrame]
) -> tuple[dict[str, pd.DataFrame], int]:
    """The sync source: per table ~10% of rows changed, ~5% deleted and
    ~5% new keys added.  Returns the tables and the number of rows
    changed + deleted + added over all tables."""
    out: dict[str, pd.DataFrame] = {}
    touched = 0
    for name, df in tables.items():
        pk = PKS[name]
        n = len(df)
        roll = rng.random(n)
        changed = roll < 0.10
        deleted = (roll >= 0.10) & (roll < 0.15)
        m = df.copy()
        col = next(c for c in df.columns if c != pk and df[c].dtype.kind == "f")
        m.loc[changed, col] = np.round(m.loc[changed, col] + 1.25, 2)
        m = m[~deleted]
        n_new = max(1, n // 20)
        fresh = df.sample(n=n_new, random_state=int(rng.integers(1 << 31)), replace=n_new > n)
        fresh = fresh.copy()
        base = int(df[pk].max()) + 1
        fresh[pk] = np.arange(base, base + n_new).astype(df[pk].dtype)
        out[name] = pd.concat([m, fresh], ignore_index=True)
        touched += int(changed.sum()) + int(deleted.sum()) + n_new
    return out, touched


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """The text corpus: uniform lengths and words from VOCAB; a
    NEAR_DUP_SHARE of the documents copy another one and append
    " dup"."""
    words = np.array(VOCAB)
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    dups = np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, src in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[src] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Random unit vectors with a uniform label."""
    vec = rng.normal(0.0, 1.0, (n, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, EMB_LABELS, n).astype(np.int32),
    })


def term_queries(rng: np.random.Generator, n_queries: int, first_id: int) -> pd.DataFrame:
    """BM25 query batches: 1-3 vocabulary terms per query id, without
    the two function words."""
    content = [w for w in VOCAB if w not in FUNCTION_WORDS]
    rows = []
    for q in range(n_queries):
        for t in rng.choice(content, size=int(rng.integers(1, 4)), replace=False):
            rows.append((first_id + q, str(t)))
    return pd.DataFrame(rows, columns=["query_id", "term"])


def phrase_queries(rng: np.random.Generator, n_queries: int) -> pd.DataFrame:
    """Two-word phrases from the vocabulary.  With 30 uniform words a
    given bigram occurs in about 6% of the documents, so each phrase has
    far more than ``k`` matches."""
    content = [w for w in VOCAB if w not in FUNCTION_WORDS]
    rows = [
        (q + 1, " ".join(rng.choice(content, size=2, replace=False)))
        for q in range(n_queries)
    ]
    return pd.DataFrame(rows, columns=["query_id", "phrase"])
