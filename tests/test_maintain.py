"""auto_maintain policy tests (operators/maintain, VERDICT r6 #5):
kind detection, per-family drift signals, dry-run, trigger → retrain
== rebuild, LSH plane resizing with params-aware probes."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

PKG = Path(__file__).resolve().parent.parent / "lwetl_spark"


def _emb(spark):
    return spark.read.parquet(SF_SMOKE + "/embeddings.parquet")


def test_detect_index_kind(spark, tmp_path):
    from lwetl_spark.operators.ivfpq import build_ivfpq_index
    from lwetl_spark.operators.maintain import detect_index_kind
    from lwetl_spark.operators.similarity import (
        build_ivf_index,
        build_lsh_index,
        build_pq_index,
    )

    from lwetl_spark.operators.maintain import INDEX_FAMILIES

    emb = _emb(spark)
    for kind, build in (
        ("ivf", build_ivf_index),
        ("pq", build_pq_index),
        ("lsh", build_lsh_index),
        ("ivfpq", build_ivfpq_index),
    ):
        p = tmp_path / kind
        build(emb, str(p))
        assert detect_index_kind(spark, str(p)) == kind
        # the family table lists every table a build writes
        written = {d.name for d in p.iterdir() if not d.name.startswith((".", "_"))}
        assert written <= set(INDEX_FAMILIES[kind].tables), (kind, written)

    with pytest.raises(ValueError):
        detect_index_kind(spark, str(tmp_path / "nothing"))


def test_auto_maintain_pq_growth_trigger_matches_rebuild(spark, tmp_path):
    """PQ growth drift: build on the even half (n_at_train = |even|),
    append the odd half → growth_pm ≈ 2000.  Threshold 1500 fires
    retrain; afterwards the index equals a fresh full-corpus build and
    n_at_train is refreshed.  Threshold 4000 (default) is a noop."""
    from lwetl_spark.operators.maintain import auto_maintain
    from lwetl_spark.operators.similarity import (
        build_pq_index,
        query_pq_index,
        update_pq_index,
    )

    emb = _emb(spark)
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "pq")
    build_pq_index(even, path)
    update_pq_index(spark, path, odd)

    noop = auto_maintain(spark, path).collect()[0]  # default 4000
    assert (noop["kind"], noop["action"], noop["metric"]) == (
        "pq", "noop", "growth_pm",
    )
    assert noop["metric_pm"] == 1000 * emb.count() // even.count()

    fired = auto_maintain(spark, path, growth_threshold_pm=1500).collect()[0]
    assert fired["action"] == "retrain"
    assert (
        spark.read.parquet(f"{path}/params").collect()[0]["n_at_train"]
        == emb.count()
    )
    ref = str(tmp_path / "ref")
    build_pq_index(emb, ref)
    got = sorted(map(tuple, query_pq_index(spark, path, emb, k=5).collect()))
    want = sorted(map(tuple, query_pq_index(spark, ref, emb, k=5).collect()))
    assert got == want


def test_auto_maintain_ivf_imbalance_dry_run_and_fire(spark, tmp_path):
    """IVF imbalance signal: the decision row reproduces the stats
    census exactly; dry_run decides without touching the index; a
    forced fire (threshold 1000 — max ≥ mean always) retrains to a
    full-corpus-trained index."""
    from lwetl_spark.operators.maintain import auto_maintain
    from lwetl_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_stats,
        query_ivf_index,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    st = ivf_index_stats(spark, path).collect()[0]
    before = sorted(map(tuple, query_ivf_index(spark, path, emb, k=5).collect()))

    dec = auto_maintain(spark, path, dry_run=True,
                        imbalance_threshold_pm=1000).collect()[0]
    assert (dec["kind"], dec["metric"]) == ("ivf", "imbalance_pm")
    assert dec["metric_pm"] == st["imbalance_pm"]
    assert dec["action"] == "retrain"  # decided ...
    after_dry = sorted(map(tuple, query_ivf_index(spark, path, emb, k=5).collect()))
    assert after_dry == before  # ... but not executed

    auto_maintain(spark, path, imbalance_threshold_pm=1000)
    ref = str(tmp_path / "ref")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), ref)  # same members
    got = sorted(map(tuple, query_ivf_index(spark, path, emb, k=5).collect()))
    want = sorted(map(tuple, query_ivf_index(spark, ref, emb, k=5).collect()))
    assert got == want


def test_auto_maintain_lsh_overload_resizes_planes(spark, tmp_path):
    """LSH overload: a tiny target bucket forces the sizing rule
    p = ⌈log2(n/target)⌉ above the current plane count; the rebuild
    re-buckets with more planes, params record the new family, and
    probes (which read params) stay self-consistent."""
    from lwetl_spark.operators.maintain import auto_maintain
    from lwetl_spark.operators.similarity import (
        build_lsh_index,
        query_lsh_index,
    )

    emb = _emb(spark)
    n = emb.count()
    path = str(tmp_path / "lsh")
    build_lsh_index(emb, path)

    dec = auto_maintain(
        spark, path, lsh_overload_threshold_pm=0, lsh_target_bucket=8
    ).collect()[0]
    assert (dec["kind"], dec["action"], dec["metric"]) == (
        "lsh", "retrain", "overload_pm",
    )
    p = spark.read.parquet(f"{path}/params").collect()[0]
    import math

    assert p["num_planes"] == max(4, math.ceil(math.log2(max(n / 8, 2))))
    assert p["num_tables"] == 12  # family dims preserved
    out = query_lsh_index(spark, path, emb.limit(5), k=3)
    rows = out.collect()
    assert rows and all(r["rank"] <= 3 for r in rows)


def test_auto_maintain_preserves_opq_family(spark, tmp_path):
    """A fired retrain on an OPQ IVFADC index must keep the rotation
    marker (family preservation): auto_maintain → retrain_ivfpq_index →
    build(opq=True) re-derives a fresh orthogonal rotation, and probes
    keep answering."""
    import numpy as np
    from pyspark.sql import functions as F

    from lwetl_spark.operators.ivfpq import (
        _load_quantizers,
        build_ivfpq_index,
        query_ivfpq_index,
        update_ivfpq_index,
    )
    from lwetl_spark.operators.maintain import auto_maintain

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "opq_maint")
    build_ivfpq_index(even, path, num_centroids=8, m=8, ksub=32, opq=True)
    update_ivfpq_index(spark, path, odd)
    d = auto_maintain(spark, path, growth_threshold_pm=1500).collect()[0]
    assert d["kind"] == "ivfpq" and d["action"] == "retrain"
    _, _, rot = _load_quantizers(spark, path)
    assert rot is not None
    assert np.allclose(rot @ rot.T, np.eye(rot.shape[0]), atol=1e-10)
    assert query_ivfpq_index(spark, path, emb.limit(3), k=3).count() > 0


def test_family_kinds_are_compared_only_in_the_family_table():
    """The ANN family decision lives in `maintain.INDEX_FAMILIES`: no
    other module compares a family-kind string, and the top-k rank
    window of the ANN paths is written once (`similarity._rank_topk`)."""
    kind_test = re.compile(
        r"""(==|!=|\bin)\s*[(\[{]?\s*["'](ivf|pq|lsh|ivfpq)["']"""
    )
    rank_window = 'orderBy(F.desc("cos"), F.asc("neighbor_id"))'
    kind_hits, windows = [], []
    for p in sorted(PKG.rglob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#")[0]
            if kind_test.search(code) and p.name != "maintain.py":
                kind_hits.append(f"{p.relative_to(PKG)}:{i}")
            if rank_window in code:
                windows.append(f"{p.relative_to(PKG)}:{i}")
    assert kind_hits == []
    assert len(windows) == 1 and windows[0].startswith("operators/similarity.py")


def test_family_table_shape():
    from lwetl_spark.operators.maintain import INDEX_FAMILIES

    assert set(INDEX_FAMILIES) == {"ivf", "pq", "lsh", "ivfpq"}
    kinds = list(INDEX_FAMILIES)
    for kind, fam in INDEX_FAMILIES.items():
        assert set(fam.markers) <= set(fam.tables)
        # a family whose markers hold another's is detected before it
        for other in kinds[kinds.index(kind) + 1:]:
            assert not set(fam.markers) < set(INDEX_FAMILIES[other].markers)
    assert INDEX_FAMILIES["ivf"].build_kwargs(num_centroids=8) == {"num_centroids": 8}
    assert INDEX_FAMILIES["pq"].build_kwargs(num_centroids=8) == {}
    assert INDEX_FAMILIES["ivfpq"].probe_kwargs(nprobe=2, rerank=9) == {
        "nprobe": 2, "rerank": 9,
    }
    assert INDEX_FAMILIES["lsh"].probe_kwargs(nprobe=2, rerank=9) == {}


def test_unknown_kind_raises_one_error(spark, tmp_path):
    """Every kind dispatch raises `index_family`'s one ValueError for an
    unknown kind, before it reads or writes anything."""
    from lwetl_spark.operators.incremental import ingest_increment
    from lwetl_spark.operators.maintain import auto_maintain
    from lwetl_spark.operators.retrieval import hybrid_topk

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    vecs = spark.createDataFrame([(1, [1.0])], "doc_id long, embedding array<double>")
    msg = r"unknown ANN index kind 'hnsw' \(ivfpq\|ivf\|pq\|lsh\)"
    calls = [
        lambda: auto_maintain(spark, str(tmp_path / "v"), kind="hnsw"),
        lambda: hybrid_topk(
            spark, str(tmp_path / "x"), str(tmp_path / "v"), docs, vecs, kind="hnsw"
        ),
        lambda: ingest_increment(
            spark, docs, str(tmp_path / "m"), str(tmp_path / "s"),
            str(tmp_path / "x"), embeddings=vecs,
            vector_index_path=str(tmp_path / "v"), vector_index_kind="hnsw",
        ),
    ]
    for call in calls:
        with pytest.raises(ValueError, match=msg):
            call()
    assert list(tmp_path.iterdir()) == []


def test_params_writer_and_reader(spark, tmp_path):
    """One params table per index: int geometry columns in keyword order,
    then n_at_train counted from the training frame; the reader merges
    explicit overrides over the stored row and reads nothing when every
    named field is given."""
    from lwetl_spark.operators.similarity import _read_params, _save_params

    path = str(tmp_path / "idx")
    _save_params(spark, path, spark.range(7), m=8, ksub=16)
    assert spark.read.parquet(f"{path}/params").dtypes == [
        ("m", "int"), ("ksub", "int"), ("n_at_train", "bigint"),
    ]
    assert _read_params(spark, path) == {"m": 8, "ksub": 16, "n_at_train": 7}
    assert _read_params(spark, path, m=None, ksub=4) == {"m": 8, "ksub": 4}
    assert _read_params(spark, path, fallback={"m": 2, "iters": 3}) == {
        "m": 8, "ksub": 16, "n_at_train": 7, "iters": 3,
    }
    missing = str(tmp_path / "pre_params")
    assert _read_params(spark, missing, m=1, ksub=2) == {"m": 1, "ksub": 2}
    assert _read_params(spark, missing, fallback={"m": 2}, m=None, ksub=5) == {
        "m": 2, "ksub": 5,
    }
    _save_params(spark, path, num_planes=4, num_tables=12, dim=64)
    assert spark.read.parquet(f"{path}/params").dtypes == [
        ("num_planes", "int"), ("num_tables", "int"), ("dim", "int"),
    ]
