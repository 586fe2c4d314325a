"""IVFADC composed-index tests (operators/ivfpq, VERDICT r6 #1):
recall floor, inline == persisted, incremental lifecycle == rebuild,
probe-time cell pruning (plan pin), no-op safety, remove-everything
readability, retrain geometry preservation."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE


def test_ivfpq_recall_floor(spark):
    """x_ann_ivfpq's contract setting (nprobe=8, rerank=200) must hold
    recall@5 ≥ 0.7 vs exact — measured 0.77-0.83 across sf0.001-0.1."""
    from lwetl_spark.operators.ivfpq import ivfpq_topk
    from lwetl_spark.operators.similarity import cosine_topk_pandas

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    exact = {(r["id"], r["neighbor_id"]) for r in cosine_topk_pandas(emb, k=5).collect()}
    approx = {
        (r["id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, k=5, nprobe=8, rerank=200).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.7


def test_ivfpq_index_build_then_query_matches_inline(spark, tmp_path):
    """Persisted IVFADC index: probing with the full corpus reproduces
    the inline ivfpq_topk exactly — same fixed-seed quantizer pair,
    same cell-local ADC scorer, same exact re-rank."""
    from lwetl_spark.operators.ivfpq import (
        build_ivfpq_index,
        ivfpq_topk,
        query_ivfpq_index,
    )

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    path = str(tmp_path / "ivfpq_index")
    build_ivfpq_index(emb, path)
    got = sorted(map(tuple, query_ivfpq_index(spark, path, emb, k=5).collect()))
    want = sorted(map(tuple, ivfpq_topk(emb, k=5).collect()))
    assert got == want

    # probing a small query batch returns results only for those queries
    some = emb.limit(7)
    sub = query_ivfpq_index(spark, path, some, k=3)
    ids = {r["vec_id"] for r in some.select("vec_id").collect()}
    rows = sub.collect()
    assert {r["id"] for r in rows} <= ids
    assert all(r["rank"] <= 3 for r in rows)


def test_ivfpq_incremental_lifecycle_matches_rebuild(spark, tmp_path):
    """build(even) + update(odd) + remove(%10==3) == build(union −
    removed, train_df=even): BOTH quantizers are frozen by appends, so
    the equality is exact.  Also pins the stats census arithmetic
    (consistency, imbalance, growth vs n_at_train)."""
    from lwetl_spark.operators.ivfpq import (
        build_ivfpq_index,
        ivfpq_index_stats,
        query_ivfpq_index,
        remove_from_ivfpq_index,
        update_ivfpq_index,
    )

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    removed = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")

    inc_path = str(tmp_path / "inc")
    ref_path = str(tmp_path / "ref")
    build_ivfpq_index(even, inc_path)
    update_ivfpq_index(spark, inc_path, odd)
    remove_from_ivfpq_index(spark, inc_path, removed)
    build_ivfpq_index(
        emb.join(removed, "vec_id", "left_anti"), ref_path, train_df=even
    )

    got = sorted(map(tuple, query_ivfpq_index(spark, inc_path, emb, k=5).collect()))
    want = sorted(map(tuple, query_ivfpq_index(spark, ref_path, emb, k=5).collect()))
    assert got == want

    st = ivfpq_index_stats(spark, inc_path).collect()[0]
    n_kept = emb.join(removed, "vec_id", "left_anti").count()
    n_even = even.count()
    assert st["n_codes"] == n_kept
    assert st["n_vectors"] == n_kept
    assert st["consistent"]
    assert st["imbalance_pm"] == 1000 * st["max_cell"] * st["n_cells"] // st["n_codes"]
    # quantizers trained at |even|; the index has since outgrown them
    assert st["growth_pm"] == 1000 * n_kept // n_even


def test_ivfpq_probe_prunes_cells(spark, tmp_path):
    """query_ivfpq_index must prune the CODES scan to the probed cells
    (partition filter on the literal probed-cell list) — the point of
    the composition: a probe reads nprobe directories of 16-byte rows,
    never the whole codes table.  Plan pin, same idiom as
    test_ivf_probe_prunes_cells."""
    from lwetl_spark.operators.ivfpq import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, num_centroids=8)
    one = emb.limit(1)
    df = query_ivfpq_index(spark, path, one, k=3, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*cell#\d+ IN? \(", plan) or \
        re.search(r"PartitionFilters: \[[^\]]*cell#\d+", plan)
    assert m, f"codes scan not partition-pruned:\n{plan[:2000]}"
    assert "Scan ExistingRDD" not in plan, plan  # queries assigned on the driver
    assert df.count() > 0


def test_ivfpq_noop_safety(spark, tmp_path):
    """Empty delta append and unknown-id removal leave the index
    probe-identical."""
    from lwetl_spark.operators.ivfpq import (
        build_ivfpq_index,
        query_ivfpq_index,
        remove_from_ivfpq_index,
        update_ivfpq_index,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path)
    before = sorted(map(tuple, query_ivfpq_index(spark, path, emb, k=5).collect()))

    update_ivfpq_index(spark, path, emb.filter(F.lit(False)))
    remove_from_ivfpq_index(
        spark, path, spark.createDataFrame([(10**12,)], "vec_id long")
    )
    after = sorted(map(tuple, query_ivfpq_index(spark, path, emb, k=5).collect()))
    assert before == after


def test_ivfpq_remove_everything_keeps_index_readable(spark, tmp_path):
    """Removing every indexed id leaves zero-row but READABLE tables
    (the `_partwrite` remove-everything contract shared with the other
    families): a subsequent update re-populates and probes work."""
    from lwetl_spark.operators.ivfpq import (
        build_ivfpq_index,
        ivfpq_index_stats,
        query_ivfpq_index,
        remove_from_ivfpq_index,
        update_ivfpq_index,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    build_ivfpq_index(emb, path, train_df=emb)
    remove_from_ivfpq_index(spark, path, emb.select("vec_id"))
    st = ivfpq_index_stats(spark, path).collect()[0]
    assert st["n_codes"] == 0 and st["n_vectors"] == 0

    update_ivfpq_index(spark, path, half)
    st2 = ivfpq_index_stats(spark, path).collect()[0]
    assert st2["n_codes"] == half.count()
    assert query_ivfpq_index(spark, path, emb.limit(3), k=3).count() > 0


def test_ivfpq_retrain_preserves_geometry(spark, tmp_path):
    """retrain_ivfpq_index defaults to the index's OWN family from
    params (a maintenance pass must not silently change the quantizer
    family) and refreshes n_at_train to the current corpus."""
    from lwetl_spark.operators.ivfpq import (
        build_ivfpq_index,
        query_ivfpq_index,
        retrain_ivfpq_index,
        update_ivfpq_index,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(even, path, num_centroids=8, m=8, ksub=32)
    update_ivfpq_index(spark, path, odd)
    retrain_ivfpq_index(spark, path)

    p = spark.read.parquet(f"{path}/params").collect()[0]
    assert (p["num_centroids"], p["m"], p["ksub"]) == (8, 8, 32)
    assert p["n_at_train"] == emb.count()
    assert spark.read.parquet(f"{path}/centroids").count() == 8
    # retrained index still answers probes over all members
    assert query_ivfpq_index(spark, path, emb.limit(5), k=3).count() > 0


def test_opq_rotation_is_orthogonal_and_balanced():
    """_opq_rotation returns a genuinely orthogonal matrix (R Rᵀ = I)
    whose row blocks carry balanced eigenvalue mass, and rotating by it
    preserves dot products (the ADC correctness precondition)."""
    import numpy as np

    from lwetl_spark.operators.ivfpq import _opq_rotation

    rng = np.random.default_rng(7)
    # anisotropic cloud: variance concentrated in a few directions
    X = rng.standard_normal((500, 16)) * np.linspace(3, 0.1, 16)[None, :]
    R = _opq_rotation(X, m=4)
    assert R.shape == (16, 16)
    assert np.allclose(R @ R.T, np.eye(16), atol=1e-10)
    a, b = rng.standard_normal(16), rng.standard_normal(16)
    assert abs((R @ a) @ (R @ b) - a @ b) < 1e-10
    # balanced allocation: the rotated blocks' variance-product spread
    # shrinks by >3x vs the unrotated contiguous blocks (greedy
    # allocation can't equalize an extreme eigen-spread exactly, but it
    # must close most of the gap — measured 17.8 -> 3.0 nats here)
    def spread(M):
        logs = [
            np.log(np.maximum(M[:, j * 4 : (j + 1) * 4].var(axis=0),
                              1e-12)).sum()
            for j in range(4)
        ]
        return max(logs) - min(logs)

    assert spread(X @ R.T) < spread(X) / 3


def test_opq_lifecycle_roundtrip_retrain_and_retirement(spark, tmp_path):
    """OPQ-rotated IVFADC honors every family contract: inline ==
    persisted probe, build(even)+update(odd) == rebuild(train_df=even),
    distortion at the same code budget is never worse than plain,
    retrain PRESERVES the OPQ family (rotation re-derived, marker
    stays), and a plain rebuild over the path RETIRES the rotation."""
    import numpy as np

    from lwetl_spark.operators.ivfpq import (
        _load_quantizers,
        _train_ivfpq,
        build_ivfpq_index,
        ivfpq_topk,
        query_ivfpq_index,
        retrain_ivfpq_index,
        update_ivfpq_index,
    )
    from lwetl_spark.operators.similarity import _train_sample_matrix

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)

    # inline == persisted
    path = str(tmp_path / "opq")
    build_ivfpq_index(emb, path, opq=True)
    inline = sorted(map(tuple, ivfpq_topk(
        emb, k=5, nprobe=8, rerank=200, opq=True).collect()))
    persisted = sorted(map(tuple, query_ivfpq_index(
        spark, path, emb, k=5, nprobe=8, rerank=200).collect()))
    assert inline == persisted

    # incremental lifecycle == rebuild (frozen rotation + quantizers)
    inc, ref = str(tmp_path / "inc"), str(tmp_path / "ref")
    build_ivfpq_index(even, inc, opq=True)
    update_ivfpq_index(spark, inc, odd)
    build_ivfpq_index(emb, ref, train_df=even, opq=True)
    got = sorted(map(tuple, query_ivfpq_index(spark, inc, emb, k=5).collect()))
    want = sorted(map(tuple, query_ivfpq_index(spark, ref, emb, k=5).collect()))
    assert got == want

    # distortion: OPQ never worse at the identical (m, ksub) budget
    Xn = _train_sample_matrix(emb, "embedding", "vec_id", 10_000)

    def distortion(opq):
        C, books, Rot = _train_ivfpq(
            emb, "embedding", "vec_id", 16, 8, 64, 10_000, 8, opq=opq)
        R = Xn - C[(Xn @ C.T).argmax(axis=1)]
        if Rot is not None:
            R = R @ Rot.T
        sub = R.shape[1] // books.shape[0]
        return sum(
            float(((R[:, j * sub:(j + 1) * sub][:, None, :]
                    - books[j][None, :, :]) ** 2).sum(axis=2).min(axis=1).sum())
            for j in range(books.shape[0])
        ) / len(R)

    assert distortion(True) <= distortion(False)

    # retrain preserves the OPQ family; rotation re-derives
    retrain_ivfpq_index(spark, inc)
    _, _, rot_after = _load_quantizers(spark, inc)
    assert rot_after is not None
    assert np.allclose(rot_after @ rot_after.T, np.eye(rot_after.shape[0]),
                       atol=1e-10)
    assert query_ivfpq_index(spark, inc, emb.limit(3), k=3).count() > 0

    # a plain (non-OPQ) rebuild over the same path retires the rotation
    build_ivfpq_index(emb, inc)
    _, _, rot_gone = _load_quantizers(spark, inc)
    assert rot_gone is None


def test_filtered_probe_semi_join_precedes_topk(spark, tmp_path):
    """Plan pin for the r9 metadata-filter pushdown: the filtered IVF
    probe plan must contain a LeftSemi join (the allowed-id pushdown)
    and it must feed the rank window — NOT a post-window filter.  The
    cell partition pruning must survive the added join."""
    from lwetl_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, num_centroids=8)
    from pyspark.sql import functions as F2

    flt = emb.filter(F2.col("vec_id") % 2 == 0).select("vec_id")
    df = query_ivf_index(
        spark, path, emb.limit(2), k=3, nprobe=2, filter_ids=flt
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, f"no semi-join pushdown:\n{plan[:2000]}"
    # the semi-join must appear BELOW the window (pushdown, not
    # post-hoc): in the executed plan string the Window node prints
    # above its inputs, so the semi-join text must come after it
    assert plan.index("Window") < plan.index("LeftSemi"), (
        "semi-join is not below the rank window (post-hoc filter?)"
    )
    m = re.search(r"PartitionFilters: \[[^\]]*cell#\d+", plan)
    assert m, f"cell pruning lost under the filter join:\n{plan[:2000]}"
    assert df.count() > 0
