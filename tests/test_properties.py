"""Property-based tests (hypothesis) for the pure-Python engine pieces:
statement splitter, LDIF parser, name uniquification, SQL literal quoting.
"""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import SF_CORRECT, SF_SMOKE

from lwetl_spark.sinks.formatter import _sql_literal
from lwetl_spark.sources.ldif import parse_ldif_text
from lwetl_spark.sources.sqlscript import split_statements

ident = st.text(alphabet=string.ascii_letters, min_size=1, max_size=8)


@given(st.lists(st.text(alphabet=string.ascii_letters + " \n", min_size=1, max_size=30), min_size=1, max_size=10))
def test_splitter_statement_count(stmts):
    script = ";".join(stmts) + ";"
    got = list(split_statements(script))
    expected = [s.strip() for s in stmts if s.strip()]
    assert got == expected


@given(st.text(alphabet=string.printable, max_size=60))
def test_splitter_quoted_semicolons_survive(s):
    quoted = s.replace("'", "''")
    script = f"SELECT '{quoted}' AS v"
    got = list(split_statements(script))
    assert len(got) == 1
    assert got[0] == script.strip()


@settings(max_examples=50)
@given(
    st.dictionaries(
        keys=ident,
        values=st.text(alphabet=string.ascii_letters + string.digits + " ", min_size=1, max_size=20).map(str.strip).filter(bool),
        min_size=1,
        max_size=6,
    )
)
def test_ldif_roundtrip(attrs):
    block = "\n".join(f"{k}: {v}" for k, v in attrs.items())
    recs = parse_ldif_text(block)
    assert len(recs) == 1
    assert recs[0] == attrs


@given(st.text(max_size=50))
def test_sql_literal_always_quotes(s):
    lit = _sql_literal(s)
    assert lit.startswith("'") and lit.endswith("'")
    # quote-doubling: interior content never terminates the literal early
    assert lit[1:-1].replace("''", "").count("'") == 0


@settings(max_examples=20, deadline=None)
@given(names=st.lists(st.one_of(ident, st.just("")), min_size=1, max_size=12))
def test_normalize_names_unique(spark, names):
    from lwetl_spark.types import normalize_names

    df = spark.createDataFrame([tuple([1] * len(names))], ", ".join(f"`c{i}` int" for i in range(len(names))))
    df = df.toDF(*names)
    out = normalize_names(df)
    assert len(set(out.columns)) == len(out.columns)
    assert all(c == c.upper() and c.strip() for c in out.columns)


def test_approx_distinct_within_tolerance(spark):
    """a5_approx_distinct (HLL++, rsd 2%) must land within 5% of exact."""
    from pyspark.sql import functions as F

    from lwetl_spark.catalog import load_table
    from lwetl_spark.queries import QUERIES

    li = load_table(spark, SF_CORRECT, "lineitem")
    both = {
        r["l_returnflag"]: (r["approx"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
            F.countDistinct("l_orderkey").alias("n"),
        )
        .collect()
    }
    for k, (approx, exact) in both.items():
        assert abs(approx - exact) / exact < 0.05, (k, approx, exact)
    # and the driver-facing contract reports the same band as TRUE
    out = QUERIES["a5_approx_distinct"](spark, SF_CORRECT).collect()
    assert {r["l_returnflag"]: r["exact_orders"] for r in out} == {
        k: n for k, (_, n) in both.items()
    }
    assert all(r["within_5pct"] for r in out)


def test_lsh_ann_recall_floor(spark):
    """x_ann_lsh: recall@5 vs the exact top-k must stay above 0.7 at the
    default (4 planes, 12 tables) — guards against plane-correlation
    regressions (correlated planes scored ~0.2)."""
    from lwetl_spark.catalog import load_table
    from lwetl_spark.operators.similarity import cosine_topk_pandas, lsh_ann_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r["id"], r["neighbor_id"]) for r in cosine_topk_pandas(emb, k=5).collect()}
    approx = {(r["id"], r["neighbor_id"]) for r in lsh_ann_topk(emb, k=5).collect()}
    assert len(exact & approx) / len(exact) >= 0.7


def test_ivf_ann_recall_floor(spark):
    """x_ann_ivf: recall@5 vs exact must stay above 0.65 at the default
    (16 centroids, nprobe 6 — probing ~37% of the corpus)."""
    from lwetl_spark.catalog import load_table
    from lwetl_spark.operators.similarity import cosine_topk_pandas, ivf_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r["id"], r["neighbor_id"]) for r in cosine_topk_pandas(emb, k=5).collect()}
    approx = {(r["id"], r["neighbor_id"]) for r in ivf_topk(emb, k=5).collect()}
    assert len(exact & approx) / len(exact) >= 0.65


def test_approx_quantile_within_tolerance(spark, duck):
    """x_approx_quantile (t-digest sketches) must land within 1% of the
    exact per-group percentiles."""
    from lwetl_spark.queries import QUERIES
    from tests.conftest import SF_CORRECT

    from pyspark.sql import functions as F

    from lwetl_spark.catalog import load_table

    q = F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000)
    approx = {
        r["l_returnflag"]: r["q"]
        for r in load_table(spark, SF_CORRECT, "lineitem")
        .groupBy("l_returnflag")
        .agg(q.alias("q"))
        .collect()
    }
    exact = {
        row[0]: row[1:]
        for row in duck.execute(
            """
            SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.5),
                   quantile_cont(l_extendedprice, 0.9),
                   quantile_cont(l_extendedprice, 0.99)
            FROM lineitem GROUP BY 1
            """
        ).fetchall()
    }
    assert set(approx) == set(exact)
    for flag, (a50, a90, a99) in approx.items():
        e50, e90, e99 = exact[flag]
        for a, e in ((a50, e50), (a90, e90), (a99, e99)):
            assert abs(a - e) / e < 0.01, (flag, a, e)
    # and the driver-facing contract reports the same bands as TRUE
    out = QUERIES["x_approx_quantile"](spark, SF_CORRECT).collect()
    assert all(r["p50_ok"] and r["p90_ok"] and r["p99_ok"] for r in out)


@given(
    st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=8),
    st.sampled_from([(64, 48), (32, 32), (16, 8), (100, 10)]),
)
@settings(max_examples=12, deadline=None)
def test_chunk_documents_tiling_property(spark, token_counts, cfg):
    """For ANY doc lengths and (chunk_size, stride): chunk i starts at
    i*stride, covers min(chunk_size, n - i*stride) tokens, the union of
    windows covers [0, n) exactly, and non-empty docs yield
    max(1, ceil((n-W)/S)+1) chunks."""
    import math

    from lwetl_spark.operators.packing import chunk_documents

    W, S = cfg
    rows = [(i, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, chunk_size=W, stride=S)
    got = {}
    for r in out.collect():
        got.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens))
    for doc_id, n in enumerate(token_counts):
        if n == 0:
            assert doc_id not in got
            continue
        chunks = sorted(got[doc_id])
        expect_nc = max(1, math.ceil((n - W) / S) + 1)
        assert len(chunks) == expect_nc, (n, W, S)
        covered = set()
        for idx, (ci, nt) in enumerate(chunks):
            assert ci == idx
            assert nt == min(W, n - ci * S)
            covered.update(range(ci * S, ci * S + nt))
        assert covered == set(range(n))


def test_semantic_dedup_invariants(spark):
    """semantic_dedup: exactly one row per doc; dropped ⊆ exact global
    droppable (precision by construction); partitioning-invariant."""
    from lwetl_spark.operators.dedup import embedding_near_dups
    from lwetl_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    out = semantic_dedup(emb, threshold=0.4, nprobe=4)
    rows = out.collect()
    assert len(rows) == emb.count()
    dropped = {r["id"] for r in rows if not r["keep"]}
    droppable = {
        r["id_b"]
        for r in embedding_near_dups(emb, threshold=0.4).select("id_b").collect()
    }
    assert dropped <= droppable
    assert len(dropped) >= 0.85 * len(droppable)

    rows2 = semantic_dedup(emb.repartition(13), threshold=0.4, nprobe=4).collect()
    assert {(r["id"], r["keep"]) for r in rows2} == {
        (r["id"], r["keep"]) for r in rows
    }


def test_lsh_index_build_then_query_matches_inline(spark, tmp_path):
    """Persisted LSH index (build once / probe many): querying the index
    with the full corpus reproduces the inline lsh_ann_topk exactly —
    same hyperplane family, same join scorer, no corpus re-bucketize."""
    from lwetl_spark.operators.similarity import (
        build_lsh_index,
        lsh_ann_topk,
        query_lsh_index,
    )

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    path = str(tmp_path / "lsh_index")
    build_lsh_index(emb, path)
    got = sorted(map(tuple, query_lsh_index(spark, path, emb, k=5).collect()))
    want = sorted(map(tuple, lsh_ann_topk(emb, k=5).collect()))
    assert got == want

    # probing a small query batch touches only its buckets
    some = emb.limit(7)
    sub = query_lsh_index(spark, path, some, k=3)
    ids = {r["vec_id"] for r in some.select("vec_id").collect()}
    rows = sub.collect()
    assert {r["id"] for r in rows} <= ids
    assert all(r["rank"] <= 3 for r in rows)


def test_pq_topk_recall_and_determinism(spark):
    """PQ ADC-shortlist + exact re-rank: recall@5 >= 0.7 vs brute force
    (the x_ann_pq contract floor) and identical output under
    repartitioning (codebooks train on the partitioning-invariant
    sample)."""
    from lwetl_spark.operators.similarity import cosine_topk_blocked, pq_topk

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    exact = {(r["id"], r["neighbor_id"]) for r in cosine_topk_blocked(emb, k=5).collect()}
    out = pq_topk(emb, k=5)
    approx = {(r["id"], r["neighbor_id"]) for r in out.collect()}
    assert len(exact & approx) / len(exact) >= 0.7

    again = pq_topk(emb.repartition(13), k=5)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_ivf_index_build_then_query_matches_inline(spark, tmp_path):
    """Persisted IVF index (build once / probe many): querying the index
    with the full corpus reproduces the inline ivf_topk('cell') exactly —
    same deterministic k-means quantizer, same cell-local scorer, no
    corpus re-clustering at query time."""
    from lwetl_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        query_ivf_index,
    )

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, path)
    got = sorted(map(tuple, query_ivf_index(spark, path, emb, k=5).collect()))
    want = sorted(map(tuple, ivf_topk(emb, k=5).collect()))
    assert got == want

    # probing a small query batch returns results only for those queries
    some = emb.limit(7)
    sub = query_ivf_index(spark, path, some, k=3)
    ids = {r["vec_id"] for r in some.select("vec_id").collect()}
    rows = sub.collect()
    assert {r["id"] for r in rows} <= ids
    assert all(r["rank"] <= 3 for r in rows)


def test_ivf_incremental_lifecycle_matches_rebuild(spark, tmp_path):
    """Incremental IVF maintenance == from-scratch rebuild: build on the
    even half, update_ivf_index with the odd half (frozen centroids,
    delta-only assignment), remove_from_ivf_index a planted subset —
    probes must equal an index built over (union − removed) with
    train_df= the even half.  Also pins the emptied-cell fallback (all
    members of some cell removed → static overwrite deletes the
    partition) and the stats census arithmetic."""
    from pyspark.sql import functions as F

    from lwetl_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_stats,
        query_ivf_index,
        remove_from_ivf_index,
        retrain_ivf_index,
        update_ivf_index,
    )

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    removed = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")

    inc_path = str(tmp_path / "inc")
    ref_path = str(tmp_path / "ref")
    build_ivf_index(even, inc_path)
    update_ivf_index(spark, inc_path, odd)
    remove_from_ivf_index(spark, inc_path, removed)
    build_ivf_index(emb.join(removed, "vec_id", "left_anti"), ref_path,
                    train_df=even)

    got = sorted(map(tuple, query_ivf_index(spark, inc_path, emb, k=5).collect()))
    want = sorted(map(tuple, query_ivf_index(spark, ref_path, emb, k=5).collect()))
    assert got == want

    # stats census: totals reconcile, imbalance is exact integer math
    st = ivf_index_stats(spark, inc_path).collect()[0]
    n_kept = emb.join(removed, "vec_id", "left_anti").count()
    assert st["n_vectors"] == n_kept
    assert st["min_cell"] >= 1  # census never reports phantom empty cells
    assert st["imbalance_pm"] == 1000 * st["max_cell"] * st["n_cells"] // st["n_vectors"]
    assert st["imbalance_pm"] >= 1000  # max >= mean always

    # removing EVERY member of one cell exercises the static fallback:
    # the emptied partition must actually vanish from the census
    cells_tbl = spark.read.parquet(f"{inc_path}/cells")
    victim = cells_tbl.groupBy("cell").count().orderBy("count", "cell").first()
    victim_ids = cells_tbl.filter(F.col("cell") == victim["cell"]).select("id")
    remove_from_ivf_index(spark, inc_path, victim_ids)
    st2 = ivf_index_stats(spark, inc_path).collect()[0]
    assert st2["n_cells"] == st["n_cells"] - 1
    assert st2["n_vectors"] == n_kept - victim["count"]

    # retrain over current members: same member ids, fresh quantizer
    retrain_ivf_index(spark, inc_path)
    members = spark.read.parquet(f"{inc_path}/cells")
    assert members.count() == n_kept - victim["count"]
    probe = query_ivf_index(spark, inc_path, emb.limit(5), k=3)
    assert probe.count() > 0


def test_ivf_update_rejects_nothing_but_is_noop_safe(spark, tmp_path):
    """Edge contracts: an empty delta append and an unknown-id removal
    both leave the index byte-equivalent (probe-identical)."""
    from pyspark.sql import functions as F

    from lwetl_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
        remove_from_ivf_index,
        update_ivf_index,
    )

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path)
    before = sorted(map(tuple, query_ivf_index(spark, path, emb, k=5).collect()))

    update_ivf_index(spark, path, emb.filter(F.lit(False)))
    remove_from_ivf_index(
        spark, path, spark.createDataFrame([(10**12,)], "vec_id long")
    )
    after = sorted(map(tuple, query_ivf_index(spark, path, emb, k=5).collect()))
    assert before == after


def test_pq_index_build_then_query_matches_inline(spark, tmp_path):
    """Persisted PQ index: probing with the full corpus reproduces the
    inline pq_topk exactly — same codebooks, same ADC shortlist, same
    exact re-rank; the scan reads only 16-byte code rows."""
    from lwetl_spark.operators.similarity import (
        build_pq_index,
        pq_topk,
        query_pq_index,
    )

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    path = str(tmp_path / "pq_index")
    build_pq_index(emb, path)
    got = sorted(map(tuple, query_pq_index(spark, path, emb, k=5).collect()))
    want = sorted(map(tuple, pq_topk(emb, k=5).collect()))
    assert got == want

    some = emb.limit(7)
    sub = query_pq_index(spark, path, some, k=3)
    ids = {r["vec_id"] for r in some.select("vec_id").collect()}
    rows = sub.collect()
    assert {r["id"] for r in rows} <= ids
    assert all(r["rank"] <= 3 for r in rows)


def test_has_near_duplicate_matches_pair_join(spark):
    """Blocked existence check == the set derived from the exact pair
    join, in both smaller-id and any-neighbor modes."""
    from lwetl_spark.operators.dedup import embedding_near_dups
    from lwetl_spark.operators.similarity import has_near_duplicate

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    pairs = embedding_near_dups(emb, threshold=0.4).select("id_a", "id_b").collect()
    by_smaller = {r["id_b"] for r in pairs}
    any_side = {r["id_a"] for r in pairs} | by_smaller

    got_smaller = {
        r["id"]
        for r in has_near_duplicate(emb, 0.4, smaller_id_only=True)
        .filter("has_dup")
        .collect()
    }
    got_any = {
        r["id"] for r in has_near_duplicate(emb, 0.4).filter("has_dup").collect()
    }
    assert got_smaller == by_smaller
    assert got_any == any_side
    # one row per vector, linear output
    assert has_near_duplicate(emb, 0.4).count() == emb.count()


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # doc seed
            st.integers(min_value=1, max_value=12),  # length in tokens
        ),
        min_size=3,
        max_size=12,
    )
)
def test_bm25_properties(spark, corpus_spec):
    """BM25 invariants on arbitrary tiny corpora: scores positive,
    ranks contiguous from 1 with deterministic ordering, and every
    returned doc actually contains a query term."""
    from lwetl_spark.operators.retrieval import bm25_topk

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    rows = [
        (i, " ".join(vocab[(seed + j) % len(vocab)] for j in range(ln)))
        for i, (seed, ln) in enumerate(corpus_spec)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    q = spark.createDataFrame(
        [(1, "alpha"), (1, "gamma"), (2, "epsilon")], "query_id int, term string"
    )
    out = bm25_topk(docs, q, k=5).collect()
    texts = dict(rows)
    terms = {1: {"alpha", "gamma"}, 2: {"epsilon"}}
    by_q: dict = {}
    for r in out:
        assert r["score_ppm"] > 0
        assert terms[r["query_id"]] & set(texts[r["doc_id"]].split())
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["score_ppm"] for r in rs]
        assert scores == sorted(scores, reverse=True)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=4,
        max_size=40,
    )
)
def test_winsorize_properties(spark, values):
    """Winsorize never drops rows, output stays inside [lo, hi] band,
    and the band edges are actual data values."""
    from lwetl_spark.operators.sampling import winsorize

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "id long, v double"
    )
    out = winsorize(df, "v", lo=0.1, hi=0.9).collect()
    assert len(out) == len(values)
    vs = set(values)
    for r in out:
        assert r["_lo"] in vs and r["_hi"] in vs
        assert r["_lo"] <= r["v_w"] <= r["_hi"]


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=1, max_value=1_000_000),
)
def test_triangle_census_relabel_invariance(spark, edge_list, offset):
    """The triangle census is invariant under node relabeling (any
    order-preserving or not — census counts don't depend on ids)."""
    from lwetl_spark.operators.graph import triangle_stats

    e1 = spark.createDataFrame(
        [(a, b) for a, b in edge_list], "a long, b long"
    )
    # relabel: x -> offset - x (order-reversing bijection)
    e2 = spark.createDataFrame(
        [(offset - a, offset - b) for a, b in edge_list], "a long, b long"
    )
    r1 = triangle_stats(e1).collect()[0]
    r2 = triangle_stats(e2).collect()[0]
    assert (r1["n_nodes"], r1["n_edges"], r1["n_wedges"], r1["n_triangles"]) == (
        r2["n_nodes"], r2["n_edges"], r2["n_wedges"], r2["n_triangles"]
    )


def test_kmeans_partitioning_invariance(spark):
    """kmeans_cluster assignments are a pure function of the data —
    identical under any input partitioning (trainer samples by hash
    order, not partition order)."""
    from lwetl_spark.operators.similarity import kmeans_cluster

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    a = {r["vec_id"]: (r["cluster_id"], r["cos"])
         for r in kmeans_cluster(emb, k=8).collect()}
    b = {r["vec_id"]: (r["cluster_id"], r["cos"])
         for r in kmeans_cluster(emb.repartition(17), k=8).collect()}
    assert a == b and len(a) == emb.count()


def test_kmeans_assigns_nearest_centroid(spark):
    """Every point's recorded cos is the max over all centroids (the
    assignment really is argmax, checked independently in numpy)."""
    import numpy as np

    from lwetl_spark.operators.similarity import (
        _train_spherical_kmeans,
        kmeans_cluster,
    )

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet").limit(200)
    emb = emb.localCheckpoint(eager=True)  # freeze the 200-row sample
    C = _train_spherical_kmeans(emb, "embedding", "vec_id", 8, 10_000, 8)
    rows = emb.collect()
    got = {r["vec_id"]: r for r in kmeans_cluster(emb, k=8).collect()}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        vn = v / max(np.linalg.norm(v), 1e-12)
        sims = vn @ C.T
        expect = np.floor(sims.max() * 1e6 + 0.5) / 1e6
        assert abs(got[r["vec_id"]]["cos"] - expect) < 1e-9


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),    # key
            st.integers(min_value=0, max_value=50),   # seq (made unique below)
            st.sampled_from(["U", "U", "U", "D"]),    # op
            st.integers(min_value=0, max_value=99),   # payload
        ),
        min_size=0,
        max_size=40,
    )
)
def test_apply_changelog_matches_dict_replay(spark, rows):
    """Property: apply_changelog == a sequential dict replay of the log
    in (key, seq) order — last change wins, deletes remove the key."""
    from lwetl_spark.operators.incremental import apply_changelog

    # make (key, seq) unique (the log-shipping total-order contract)
    seen = set()
    uniq = []
    for k, s, op, v in rows:
        while (k, s) in seen:
            s += 1
        seen.add((k, s))
        uniq.append((k, s, op, v))
    if not uniq:
        return
    df = spark.createDataFrame(uniq, "k long, seq long, op string, v long")
    got = {
        (r["k"]): (r["seq"], r["v"])
        for r in apply_changelog(df, ["k"], ["seq"]).collect()
    }
    state: dict[int, tuple[int, int]] = {}
    for k, s, op, v in sorted(uniq, key=lambda t: (t[0], t[1])):
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = (s, v)
    assert got == state


def _sorted_unique(xs):
    # named (not a lambda): hypothesis source-extracts lambdas passed to
    # .map() for its repr, and that extraction has a thread-unsafe
    # `assert "lambda" in source` that flaked once under the full suite
    # (Spark's py4j threads touch the recursion limit / linecache)
    return sorted(set(xs))


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=12)
    .map(_sorted_unique)
)
def test_rrf_fusion_identical_lists_preserve_order(spark, docs):
    """Property: fusing a ranking with ITSELF preserves the ranking
    (RRF is rank-monotone on agreeing inputs)."""
    from lwetl_spark.operators.retrieval import rrf_fuse

    rows = [(1, d, i + 1) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "query_id long, doc_id long, rnk long")
    out = sorted(
        rrf_fuse([df, df], topk=len(docs)).collect(), key=lambda r: r["rnk"]
    )
    assert [r["doc_id"] for r in out] == [d for d in docs]
    assert all(r["n_lists"] == 2 for r in out)


def test_ivf_remove_everything_keeps_index_readable(spark, tmp_path):
    """r5 ADVICE: removing every vector must not leave {path}/cells
    without a single parquet footer — stats/query/update all have to
    keep working on the emptied index, and a later update must fully
    repopulate it."""
    from pyspark.sql import functions as F

    from lwetl_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_stats,
        query_ivf_index,
        update_ivf_index,
        remove_from_ivf_index,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, num_centroids=4)
    remove_from_ivf_index(spark, path, emb.select("vec_id"))

    st = ivf_index_stats(spark, path).collect()[0]
    assert (st["n_vectors"] or 0) == 0
    assert query_ivf_index(spark, path, emb.limit(3), k=3).count() == 0

    # the index must accept a repopulating delta after total removal
    update_ivf_index(spark, path, emb)
    st2 = ivf_index_stats(spark, path).collect()[0]
    assert st2["n_vectors"] == emb.count()
    assert query_ivf_index(spark, path, emb.limit(3), k=3).count() > 0


def test_ivf_retrain_preserves_geometry(spark, tmp_path):
    """r5 ADVICE: retrain_ivf_index must default to the index's OWN
    quantizer family (persisted params; centroid count for pre-params
    indexes), not shrink a non-default index to 16 cells."""
    from lwetl_spark.operators.similarity import (
        build_ivf_index,
        retrain_ivf_index,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, num_centroids=4, train_sample=200, iters=3)
    retrain_ivf_index(spark, path)
    assert spark.read.parquet(f"{path}/centroids").count() == 4

    # pre-params index (simulate by deleting the params dir): geometry
    # falls back to the stored centroid count
    import shutil

    shutil.rmtree(f"{path}/params")
    retrain_ivf_index(spark, path)
    assert spark.read.parquet(f"{path}/centroids").count() == 4

    # explicit override still wins
    retrain_ivf_index(spark, path, num_centroids=2)
    assert spark.read.parquet(f"{path}/centroids").count() == 2


def test_ivf_remove_rewrites_only_affected_cells(spark, tmp_path):
    """Scale contract of remove_from_ivf_index: partitions without a
    removed id keep their exact data files (no full-table rewrite), and
    an emptied cell's DIRECTORY is deleted rather than escalating to a
    static overwrite of everything."""
    import os

    from pyspark.sql import functions as F

    from lwetl_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_stats,
    )
    from lwetl_spark.operators.similarity import remove_from_ivf_index

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, num_centroids=4)
    cells_tbl = spark.read.parquet(f"{path}/cells")
    by_size = cells_tbl.groupBy("cell").count().orderBy("count", "cell").collect()
    victim, untouched = by_size[0]["cell"], by_size[-1]["cell"]

    def _files(cell):
        d = f"{path}/cells/cell={cell}"
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before = _files(untouched)
    victim_ids = cells_tbl.filter(F.col("cell") == victim).select("id")
    remove_from_ivf_index(spark, path, victim_ids)

    assert not os.path.isdir(f"{path}/cells/cell={victim}")
    assert _files(untouched) == before  # byte-identical file set
    st = ivf_index_stats(spark, path).collect()[0]
    assert st["n_cells"] == len(by_size) - 1


def test_pq_incremental_lifecycle_matches_rebuild(spark, tmp_path):
    """PQ index lifecycle (the update_ivf_index contract, PQ side):
    build on the even half, update_pq_index with the odd half (frozen
    codebooks, delta-only encode, bucket appends), remove a planted
    subset — probes must equal an index built over (union − removed)
    with train_df= the even half.  Also pins the stats census, the
    remove-everything readability guard, and geometry-preserving
    retrain."""
    from pyspark.sql import functions as F

    from lwetl_spark.operators.similarity import (
        build_pq_index,
        pq_index_stats,
        query_pq_index,
        remove_from_pq_index,
        retrain_pq_index,
        update_pq_index,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    removed = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")

    inc, ref = str(tmp_path / "inc"), str(tmp_path / "ref")
    build_pq_index(even, inc, m=8, ksub=16, train_sample=200, iters=3)
    update_pq_index(spark, inc, odd)
    remove_from_pq_index(spark, inc, removed)
    build_pq_index(
        emb.join(removed, "vec_id", "left_anti"), ref,
        m=8, ksub=16, train_sample=200, iters=3, train_df=even,
    )
    probes = emb.limit(20)
    got = sorted(map(tuple, query_pq_index(spark, inc, probes, k=5).collect()))
    want = sorted(map(tuple, query_pq_index(spark, ref, probes, k=5).collect()))
    assert got == want and got
    # the train_df= anchor records the training frame's size, so its
    # growth baseline (n_at_train) equals the maintained index's
    assert (
        spark.read.parquet(f"{inc}/params").collect()
        == spark.read.parquet(f"{ref}/params").collect()
    )

    st = pq_index_stats(spark, inc).collect()[0]
    n_kept = emb.join(removed, "vec_id", "left_anti").count()
    assert st["n_vectors"] == n_kept and st["consistent"]

    # geometry-preserving retrain: ksub=16 family survives a no-arg pass
    retrain_pq_index(spark, inc)
    assert (
        spark.read.parquet(f"{inc}/codebooks")
        .agg(F.max("code")).collect()[0][0] == 15
    )
    assert query_pq_index(spark, inc, probes, k=3).count() > 0

    # remove everything: stats/query stay readable, update repopulates
    remove_from_pq_index(spark, inc, emb.select("vec_id"))
    st2 = pq_index_stats(spark, inc).collect()[0]
    assert (st2["n_vectors"] or 0) == 0
    assert query_pq_index(spark, inc, probes, k=3).count() == 0
    update_pq_index(spark, inc, emb)
    assert pq_index_stats(spark, inc).collect()[0]["n_vectors"] == emb.count()


def test_lsh_incremental_lifecycle_matches_rebuild(spark, tmp_path):
    """LSH index lifecycle: the plane family is fixed-seed and
    data-independent, so update∘remove == rebuild needs no train_df
    anchor at all — build on the even half, update with the odd half
    (plane geometry read from {path}/params), remove a planted subset,
    probe-equal a build over (union − removed).  Plus stats census and
    remove-everything readability."""
    from pyspark.sql import functions as F

    from lwetl_spark.operators.similarity import (
        build_lsh_index,
        lsh_index_stats,
        query_lsh_index,
        remove_from_lsh_index,
        update_lsh_index,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    removed = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")

    inc, ref = str(tmp_path / "inc"), str(tmp_path / "ref")
    build_lsh_index(even, inc)
    update_lsh_index(spark, inc, odd)
    remove_from_lsh_index(spark, inc, removed)
    build_lsh_index(emb.join(removed, "vec_id", "left_anti"), ref)

    probes = emb.limit(20)
    got = sorted(map(tuple, query_lsh_index(spark, inc, probes, k=5).collect()))
    want = sorted(map(tuple, query_lsh_index(spark, ref, probes, k=5).collect()))
    assert got == want and got

    st = lsh_index_stats(spark, inc).collect()[0]
    n_kept = emb.join(removed, "vec_id", "left_anti").count()
    assert st["n_vectors"] == n_kept and st["n_tables"] == 12
    assert st["max_bucket"] <= n_kept

    remove_from_lsh_index(spark, inc, emb.select("vec_id"))
    st2 = lsh_index_stats(spark, inc).collect()[0]
    assert (st2["n_vectors"] or 0) == 0
    assert query_lsh_index(spark, inc, probes, k=3).count() == 0
    update_lsh_index(spark, inc, emb)
    assert lsh_index_stats(spark, inc).collect()[0]["n_vectors"] == emb.count()


def test_ivf_probe_prunes_cells(spark, tmp_path):
    """query_ivf_index must prune the cells scan to the probed cells
    (partition filter on the literal probed-cell list) — without it a
    small probe batch cogroup-shuffles the whole corpus.  Results must
    be unchanged vs the full-scan contract (covered by the lifecycle
    tests); here we pin the PLAN."""
    import re

    from pyspark.sql import functions as F

    from lwetl_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, num_centroids=8)
    one = emb.limit(1)
    df = query_ivf_index(spark, path, one, k=3, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*cell#\d+ IN? \(", plan) or \
        re.search(r"PartitionFilters: \[[^\]]*cell#\d+", plan)
    assert m, f"cells scan not partition-pruned:\n{plan[:2000]}"
    # queries are assigned on the driver into a local relation: no
    # checkpointed Arrow pass, and the top-k window is cut map-side
    assert "Scan ExistingRDD" not in plan, plan
    assert re.search(r"WindowGroupLimit .*Partial", plan), plan
    # and the probe returns the same rows as before the pruning
    assert df.count() > 0


def test_concurrent_index_maintenance_no_conf_race(spark, tmp_path):
    """r5 ADVICE: maintenance writes must not mutate the session-global
    partitionOverwriteMode — two removals running CONCURRENTLY on the
    same SparkSession (different indexes) must both land correctly even
    with an adversarial session default, because the mode is scoped
    per-write.  Under the old set/restore dance one thread could
    observe the other's mode and either clobber unaffected partitions
    (static leak) or strand removed rows (dynamic leak)."""
    import threading

    from pyspark.sql import functions as F

    from lwetl_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_stats,
        remove_from_ivf_index,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    paths = [str(tmp_path / f"ivf{i}") for i in range(2)]
    for p in paths:
        build_ivf_index(emb, p, num_centroids=4)

    # adversarial default: dynamic session-wide (the old static fallback
    # branch would silently strand partitions under this)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    errors = []

    def worker(p, mod):
        try:
            remove_from_ivf_index(
                spark, p, emb.filter(F.col("vec_id") % 5 == mod).select("vec_id")
            )
        except Exception as e:  # noqa: BLE001
            errors.append((p, e))

    try:
        ts = [
            threading.Thread(target=worker, args=(paths[i], i))
            for i in range(2)
        ]
        [t.start() for t in ts]
        [t.join() for t in ts]
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert not errors, errors
    n = emb.count()
    for i, p in enumerate(paths):
        expect = n - emb.filter(F.col("vec_id") % 5 == i).count()
        st = ivf_index_stats(spark, p).collect()[0]
        assert st["n_vectors"] == expect, (p, st)


@given(
    ranked=st.lists(
        st.tuples(
            st.text(alphabet="abcdef", min_size=1, max_size=3),
            st.text(alphabet="abcdef", min_size=1, max_size=3),
            st.integers(min_value=1, max_value=100),
        ),
        max_size=30,
    ),
    k=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=200, deadline=None)
def test_select_disjoint_batch_properties(ranked, k):
    """Invariants of the batched-BPE selector for ANY candidate list:
    (a) at most k pairs; (b) pairwise symbol-disjoint — the property
    that makes simultaneous application order-independent; (c) a
    subsequence of the input (greedy order preserved); (d) greedy
    maximality — every candidate before the cut that was NOT selected
    conflicts with an earlier selection."""
    from lwetl_spark.operators.bpe import _select_disjoint_batch

    batch = _select_disjoint_batch(ranked, k)
    assert len(batch) <= k
    used = set()
    for a, b in batch:
        assert a not in used and b not in used
        used.update((a, b))
    # subsequence of input pairs
    pairs_in = [(a, b) for a, b, _ in ranked]
    it = iter(pairs_in)
    assert all(p in it for p in batch)
    # greedy maximality up to the point the batch filled
    if len(batch) < k:
        ptr, sel = 0, set()
        for a, b, _ in ranked:
            if ptr < len(batch) and batch[ptr] == (a, b) and a not in sel and b not in sel:
                sel.update((a, b))
                ptr += 1
                continue
            assert a in sel or b in sel, f"({a},{b}) skipped without conflict"
