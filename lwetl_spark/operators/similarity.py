"""Similarity search over embedding columns (SURVEY §2.10 NEW).

- `cosine_topk`: brute-force exact top-k — the correctness baseline.
  Join is broadcast (candidate set ships once per executor); per-pair
  cosine is a JVM-side fold; ranking is one window per query id.
  Corpora above `max_broadcast_rows` auto-route to the blocked path —
  the broadcast form is an explicit opt-in, never a scale default.
- `cosine_topk_pandas`: same semantics, Arrow-batched numpy matmul —
  the fast path when candidates fit in memory (they ship as a plain
  broadcast variable).  ~50× less per-pair overhead than HOF eval.
- `cosine_topk_blocked`: same semantics, 2-D block-partitioned cogroup
  matmul — the DEFAULT exact path: no driver collect, bounded per-task
  memory, scales by raising the block counts.
- `lsh_ann_topk`: the 100 TB path — random-hyperplane LSH buckets
  (deterministic seeded planes), candidates only within bucket, then
  exact re-rank.  Recall < 1 by construction; `num_tables` trades
  recall for fan-out.

Four ANN families also persist as indexes under a path: IVF
(`build_ivf_index`), PQ (`build_pq_index`), LSH (`build_lsh_index`)
and IVFADC (`ivfpq.build_ivfpq_index`).  Each has build, update,
remove, query, stats and retrain functions; `maintain.INDEX_FAMILIES`
is the one table of them, with each family's layout tables, and every
kind dispatch (`ingest_increment`, `auto_maintain`, `hybrid_topk`)
goes through it.  Every family writes its geometry to `{path}/params`
with `_save_params` and reads it back with `_read_params`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lwetl_spark.functions.vectors import cosine_similarity
from lwetl_spark.operators import _parallel as _pl
from lwetl_spark.operators import _partwrite as _pw
from lwetl_spark.operators import _probe
from lwetl_spark.operators._fsutil import path_exists as _path_exists
from lwetl_spark.operators._fsutil import read_parquet
from lwetl_spark.operators._parallel import spread as _spread

#: pinned on-disk schemas (r12, guide §6 / VERDICT r11 #4+#6): every
#: table below is written by this module with a FIXED schema (the build
#: mapInPandas declarations / createDataFrame DDL), so reads pin it and
#: skip the per-read parquet footer-inference job + its file listing.
#: Partition columns (cell/bucket/vbucket/table_idx) parse from the
#: directory names with the pinned int type — identical to inference.
_IVF_CELLS_DDL = "id long, v array<double>, cell int"
_IVF_CENTROIDS_DDL = "cell int, centroid array<double>"
_PQ_CODEBOOKS_DDL = "subspace int, code int, centroid array<double>"
_PQ_CODES_DDL = "cid long, code long, bucket int"
_PQ_VECTORS_DDL = "id long, vec array<double>, bucket int"
_LSH_BUCKETS_DDL = "id long, bucket int, table_idx int"
_LSH_VECTORS_DDL = "id long, vec array<double>, vbucket int"


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The top-k tail of every ANN path, inline and persisted: each
    query id's ``k`` best (id, neighbor_id, cos) rows ranked 1..k, ties
    broken by neighbor id ascending."""
    w = Window.partitionBy("id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "neighbor_id", "cos", "rank")
    )


def _save_params(
    spark, path: str, trained_on: DataFrame | None = None, **geometry
) -> None:
    """Write `{path}/params`, a persisted index's one-row geometry: one
    int column per keyword, in keyword order, then — for the codebook
    families — ``n_at_train``, the row count of ``trained_on``, the
    frame the quantizers were trained on (`auto_maintain`'s growth
    baseline: a ``train_df=`` rebuild records the same count as the
    incrementally maintained index it equals)."""
    row = {name: int(v) for name, v in geometry.items()}
    ddl = [f"{name} int" for name in row]
    if trained_on is not None:
        row["n_at_train"] = trained_on.count()
        ddl.append("n_at_train long")
    spark.createDataFrame([tuple(row.values())], ", ".join(ddl)).write.mode(
        "overwrite"
    ).parquet(f"{path}/params")


def _read_params(spark, path: str, fallback: dict | None = None, **given) -> dict:
    """A persisted index's geometry, `{path}/params`, as a dict.

    Each keyword names a field: a non-None value overrides the stored
    one, and only the named fields come back (every stored field when
    none is named).  Nothing is read when every named field is given.
    ``fallback`` serves indexes built before params existed: its values
    stand in for a missing table and yield to a stored one."""
    if given and None not in given.values():
        return given
    stored = dict(fallback or {})
    if fallback is None or _path_exists(spark, f"{path}/params"):
        stored.update(read_parquet(spark, f"{path}/params").collect()[0].asDict())
    if not given:
        return stored
    return {name: stored.get(name) if v is None else v for name, v in given.items()}


def cosine_topk(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    queries: DataFrame | None = None,
    max_broadcast_rows: int | None = 100_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for every row (excluding self).

    Returns (id, neighbor_id, cos, rank), rank 1..k, ties broken by
    neighbor id ascending for determinism.

    Auto-routing (VERDICT r2 #4): the pure-expression form broadcasts the
    whole candidate set to every executor — fine for dimension-sized
    corpora, an executor-OOM footgun at corpus scale (Catalyst
    UNDERESTIMATES array-column sizes, so it happily builds the
    broadcast).  With no separate `queries` frame, a corpus larger than
    `max_broadcast_rows` therefore routes to `cosine_topk_blocked`
    (identical output contract, no broadcast, bounded task memory).  The
    size probe is `limit(n+1).count()` — bounded work even on a 100 TB
    scan, unlike a full count.  Pass `max_broadcast_rows=None` to opt in
    to the broadcast form unconditionally (e.g. a corpus known small
    against a separate query set).
    """
    if queries is None and max_broadcast_rows is not None:
        if df.limit(max_broadcast_rows + 1).count() > max_broadcast_rows:
            return cosine_topk_blocked(df, k=k, vec_col=vec_col, id_col=id_col)
    q = (queries or df).select(F.col(id_col).alias("id"), F.col(vec_col).alias("qv"))
    c = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        q.join(F.broadcast(c), F.col("id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine_similarity("qv", "cv"), 6))
    )
    return _rank_topk(scored, k)


def cosine_topk_pandas(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrow-batched exact top-k: candidate matrix broadcast to executors,
    per-batch numpy matmul, heap-free argpartition top-k.

    Same output contract as `cosine_topk`.  The candidate set is
    `collect()`ed to the DRIVER first and then broadcast, so the binding
    limit is DRIVER heap, not just executor memory: ~10M × 64d float64
    ≈ 5 GB on the driver (plus one broadcast copy per executor).  Beyond
    that use `cosine_topk_blocked` (no driver collect) or
    `lsh_ann_topk`.
    """
    import numpy as np
    import pandas as pd

    rows = df.select(id_col, vec_col).collect()
    order0 = np.argsort(np.array([r[0] for r in rows], dtype=np.int64), kind="stable")
    ids = np.array([r[0] for r in rows], dtype=np.int64)[order0]  # cid-ascending
    mat = np.array([r[1] for r in rows], dtype=np.float64)[order0]
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)
    b_norms = spark.sparkContext.broadcast(norms)

    def topk_batches(it):
        cids, cmat, cnorms = b_ids.value, b_mat.value, b_norms.value
        n = len(cids)
        for pdf in it:
            q = np.array(list(pdf[vec_col]), dtype=np.float64)
            qids = pdf[id_col].to_numpy(dtype=np.int64)
            qn = np.linalg.norm(q, axis=1)
            qn[qn == 0] = 1.0
            sims = (q @ cmat.T) / qn[:, None] / cnorms[None, :]
            # HALF_UP like F.round (np.round is banker's) — all exact paths
            # agree bit-for-bit at 6-dp boundaries
            sims = np.floor(sims * 1e6 + 0.5) / 1e6
            # fully vectorized deterministic top-k: one int64 sort key per
            # pair = (-cos rounded to 6dp, candidate position).  Candidates
            # are pre-sorted by id, so position order IS id order.  sims is
            # already 6-dp-integral so rint is exact here.
            keys = (-np.rint(sims * 1e6).astype(np.int64)) * n + np.arange(n)[None, :]
            self_pos = np.searchsorted(cids, qids)
            is_self = (self_pos < n) & (cids[np.minimum(self_pos, n - 1)] == qids)
            keys[np.flatnonzero(is_self), self_pos[is_self]] = np.iinfo(np.int64).max
            kk = min(k, n - 1)
            part = np.argpartition(keys, kk - 1, axis=1)[:, :kk]
            part_keys = np.take_along_axis(keys, part, axis=1)
            topk = np.take_along_axis(part, np.argsort(part_keys, axis=1), axis=1)
            m = len(qids)
            yield pd.DataFrame(
                {
                    "id": np.repeat(qids, kk),
                    "neighbor_id": cids[topk].ravel(),
                    "cos": np.take_along_axis(sims, topk, axis=1).ravel(),
                    "rank": np.tile(np.arange(1, kk + 1), m),
                }
            )

    return _spread(df.select(id_col, vec_col)).mapInPandas(
        topk_batches, schema="id long, neighbor_id long, cos double, rank int"
    )


def cosine_topk_blocked(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_blocks: int = 4,
    c_blocks: int = 4,
) -> DataFrame:
    """Distributed exact top-k — the beyond-broadcast brute-force path.

    2-D block decomposition of the n×n similarity grid: queries hash into
    `q_blocks` row-blocks, candidates into `c_blocks` column-blocks, and
    each (qblk, cblk) cell is one cogrouped Arrow task doing a local numpy
    matmul + per-query local top-(k+1).  A final window merges the
    per-cell winners into the global top-k.  Nothing is collected to the
    driver and no single task ever holds more than n/q_blocks queries ×
    n/c_blocks candidates, so the same plan runs at any corpus size by
    raising the block counts (shuffle volume is n·c_blocks + n·q_blocks
    vector rows; compute stays the inherent O(n²) of exact search).

    Output contract and numerics are identical to `cosine_topk_pandas`
    (float64 matmul, 6-dp rounding, ties by neighbor id ascending).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    # replicate each query row across all candidate blocks and vice versa —
    # the broadcast grids are c_blocks/q_blocks ints, never data rows
    cgrid = spark.range(c_blocks).select(F.col("id").cast("int").alias("cblk"))
    qgrid = spark.range(q_blocks).select(F.col("id").cast("int").alias("qblk"))
    q = (
        df.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .withColumn("qblk", F.pmod(F.xxhash64("qid"), F.lit(q_blocks)).cast("int"))
        .crossJoin(F.broadcast(cgrid))
    )
    c = (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .withColumn("cblk", F.pmod(F.xxhash64("cid"), F.lit(c_blocks)).cast("int"))
        .crossJoin(F.broadcast(qgrid))
    )

    def local_topk(qpdf: "pd.DataFrame", cpdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"id": [], "neighbor_id": [], "cos": []})
        if not len(qpdf) or not len(cpdf):
            return empty
        cids = cpdf["cid"].to_numpy(np.int64)
        order = np.argsort(cids, kind="stable")  # position order == id order
        cids = cids[order]
        cmat = np.array(cpdf["cv"].tolist(), dtype=np.float64)[order]
        cnorms = np.linalg.norm(cmat, axis=1)
        cnorms[cnorms == 0] = 1.0
        qids = qpdf["qid"].to_numpy(np.int64)
        qmat = np.array(qpdf["qv"].tolist(), dtype=np.float64)
        qnorms = np.linalg.norm(qmat, axis=1)
        qnorms[qnorms == 0] = 1.0
        sims = (qmat @ cmat.T) / qnorms[:, None] / cnorms[None, :]
        # HALF_UP like F.round (np.round is banker's) — matches
        # cosine_topk/cosine_topk_pandas and the cell/bucket/join scorers
        sims = np.floor(sims * 1e6 + 0.5) / 1e6
        n = len(cids)
        # same deterministic sort key as cosine_topk_pandas (sims is
        # 6-dp-integral here, so rint is exact)
        keys = (-np.rint(sims * 1e6).astype(np.int64)) * n + np.arange(n)[None, :]
        kk = min(k + 1, n)  # +1 headroom for the self row; global window trims
        part = np.argpartition(keys, kk - 1, axis=1)[:, :kk]
        part_keys = np.take_along_axis(keys, part, axis=1)
        topk = np.take_along_axis(part, np.argsort(part_keys, axis=1), axis=1)
        m = len(qids)
        out = pd.DataFrame(
            {
                "id": np.repeat(qids, kk),
                "neighbor_id": cids[topk].ravel(),
                "cos": np.take_along_axis(sims, topk, axis=1).ravel(),
            }
        )
        return out[out["id"] != out["neighbor_id"]]

    local = (
        q.groupBy("qblk", "cblk")
        .cogroup(c.groupBy("qblk", "cblk"))
        .applyInPandas(local_topk, "id long, neighbor_id long, cos double")
    )
    return _rank_topk(local, k)


def _train_sample_matrix(
    df: DataFrame, vec_col: str, id_col: str, train_sample: int
):
    """The bounded partitioning-invariant training sample as an
    L2-normalized numpy matrix — the `train_sample` smallest
    xxhash64(id) rows, a pseudo-random sample identical under ANY
    partitioning (a bare limit() takes partition-order-dependent rows,
    which made trained quantizers — and every downstream assignment —
    partitioning-dependent).  orderBy+limit compiles to
    TakeOrderedAndProject: per-partition top-k, driver merge, no global
    sort shuffle.  Shared by the IVF/PQ/IVFADC trainers so the composed
    index samples exactly like its halves."""
    import numpy as np

    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(train_sample)
        .collect()
    )
    X = np.array([r[1] for r in rows], dtype=np.float64)
    return X / np.maximum(np.linalg.norm(X, axis=1), 1e-12)[:, None]


def _spherical_kmeans_from_matrix(Xn, num_centroids: int, iters: int):
    """Deterministic spherical k-means (fixed-seed init, Lloyd
    iterations) on an already-normalized matrix — the matrix-level core
    of `_train_spherical_kmeans`, shared with the IVFADC trainer
    (operators/ivfpq) so the composed coarse quantizer is bit-identical
    to a standalone IVF one trained on the same sample."""
    import numpy as np

    rs = np.random.RandomState(7)
    C = Xn[rs.choice(len(Xn), size=min(num_centroids, len(Xn)), replace=False)]
    for _ in range(iters):
        assign = (Xn @ C.T).argmax(axis=1)  # cosine on normalized = dot
        for j in range(len(C)):
            members = Xn[assign == j]
            if len(members):
                m = members.mean(axis=0)
                C[j] = m / max(np.linalg.norm(m), 1e-12)
    return C


def _train_spherical_kmeans(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_centroids: int,
    train_sample: int,
    iters: int,
):
    """Deterministic spherical k-means on a BOUNDED driver-side sample
    (fixed-seed init, Lloyd iterations on L2-normalized vectors).  The
    only driver-side collect in the IVF/semantic-dedup family — capped at
    `train_sample` rows by construction; at 100 TB you still train on
    ~10⁵ sampled vectors and broadcast the num_centroids × dim matrix."""
    Xn = _train_sample_matrix(df, vec_col, id_col, train_sample)
    return _spherical_kmeans_from_matrix(Xn, num_centroids, iters)


def ivf_topk(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_centroids: int = 16,
    nprobe: int = 6,
    train_sample: int = 10_000,
    iters: int = 8,
    score: str = "cell",
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) cells.

    Coarse quantizer: deterministic spherical k-means (seeded init, Lloyd
    iterations on L2-normalized vectors) trained driver-side on a bounded
    sample — at 100 TB you train on ~10⁵ sampled vectors and the rest of
    the pipeline is unchanged.  Every vector lands in its nearest cell;
    each query probes its `nprobe` nearest cells; exact cosine re-rank
    runs inside the probed cells only, so compute per query is
    |corpus|·nprobe/num_centroids pairs instead of |corpus|.

    Scoring paths (value-identical): 'cell' (DEFAULT — the 100 TB
    path): queries cogroup with each probed cell's members and the
    matmul runs cell-locally, emitting bare scored pairs — vectors
    shuffle once per probe replication, never per candidate pair (the
    same shape as lsh_ann_topk's 'bucket' scorer); 'join' re-joins
    vectors per candidate pair; 'broadcast' is the opt-in
    driver-matrix path.  Each data vector lives in exactly ONE cell, so
    'cell' needs no pair dedup.
    """
    import numpy as np
    import pandas as pd

    C = _train_spherical_kmeans(df, vec_col, id_col, num_centroids, train_sample, iters)
    spark = df.sparkSession
    b_C = spark.sparkContext.broadcast(C)
    n_cells = len(C)

    def assign_cells(probe_n, carry_v=False):
        return _make_assign_cells(b_C, probe_n, carry_v)

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    probe_n = min(nprobe, n_cells)
    if score == "cell":
        data_v = base.mapInPandas(
            assign_cells(1, carry_v=True), "id long, cell int, v array<double>"
        )
        probe_v = base.mapInPandas(
            assign_cells(probe_n, carry_v=True), "id long, cell int, v array<double>"
        )
        scored = (
            probe_v.groupBy("cell")
            .cogroup(data_v.groupBy("cell"))
            .applyInPandas(_make_cell_topk(k), "id long, neighbor_id long, cos double")
        )
    else:
        data_cells = base.mapInPandas(assign_cells(1), schema="id long, cell int")
        probe_cells = base.mapInPandas(
            assign_cells(probe_n), schema="id long, cell int"
        )
        cand = (
            probe_cells.alias("q")
            .join(data_cells.alias("d"), "cell")
            .select(F.col("q.id").alias("id"), F.col("d.id").alias("neighbor_id"))
            .filter(F.col("id") != F.col("neighbor_id"))
            .dropDuplicates(["id", "neighbor_id"])
        )
        scored = _score_candidates(df, cand, vec_col, id_col, score)
    return _rank_topk(scored, k)


def _make_cell_assigner():
    """``assign(C, ids, vecs, probe_n)``: each (id, v) row's `probe_n`
    nearest k-means cells (cosine on normalized vectors = dot with the
    centroid matrix ``C``) as repeated ``id`` / ``cell`` / ``v``
    columns.  ONE implementation for the build-time worker pass
    (`_make_assign_cells`) and the driver-side probe assignment
    (`_probe_cells`), so both assign bit-identically.  ``vecs`` is an
    object array of vectors.  Factory-made, so worker closures that
    capture the product ship it by value."""
    import numpy as np

    def assign(C, ids, vecs, probe_n):
        v = np.array(list(vecs), dtype=np.float64)
        vn = v / np.maximum(np.linalg.norm(v, axis=1), 1e-12)[:, None]
        sims = vn @ C.T
        top = np.argsort(-sims, axis=1, kind="stable")[:, :probe_n]
        return {
            "id": np.repeat(ids, probe_n),
            "cell": top.ravel().astype("int32"),
            "v": np.repeat(vecs, probe_n),
        }

    return assign


_assign_cells = _make_cell_assigner()


def _make_assign_cells(b_C, probe_n: int, carry_v: bool = False):
    """mapInPandas generator assigning each (id, v) row to its `probe_n`
    nearest cells of the broadcast centroid matrix (`_assign_cells`).
    Shared by `ivf_topk`, the index builds and their maintenance passes.
    Closure captures the centroid broadcast, ints and the assigner —
    pickled by value for driver-owned sessions."""
    assign = _assign_cells

    def gen(it):
        import pandas as pd

        cents = b_C.value
        for pdf in it:
            if not len(pdf):
                continue
            cols = assign(cents, pdf["id"].to_numpy(), pdf["v"].to_numpy(), probe_n)
            if not carry_v:
                del cols["v"]
            yield pd.DataFrame(cols)

    return gen


def _probe_cells(spark, C, queries_df: DataFrame, id_col: str, vec_col: str, probe_n: int):
    """Assign a probe batch to its `probe_n` nearest cells on the
    driver (the centroid matrix is already there): the batch is
    collected once, bounded, and assigned by `_assign_cells` — the
    same code as the build — into an (id, cell, v) local frame.
    Returns that frame, the sorted probed cells and the collected
    (id, v) rows."""
    import numpy as np
    import pandas as pd

    rows = _probe.collect_batch(
        queries_df.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v"))
    )
    schema = "id long, cell int, v array<double>"
    if not rows:
        return _probe.local_frame(spark, [], schema), [], rows
    cols = _assign_cells(
        C,
        np.array([r[0] for r in rows], dtype=np.int64),
        pd.Series([r[1] for r in rows], dtype=object).to_numpy(),
        probe_n,
    )
    ids, cells = cols["id"].tolist(), cols["cell"].tolist()
    probe_v = _probe.local_frame(spark, list(zip(ids, cells, cols["v"])), schema)
    return probe_v, sorted(set(cells)), rows


def _make_cell_topk(kk_target: int):
    """Cell-local exact top-k scorer shared by `ivf_topk` (inline) and
    `query_ivf_index` (persisted index) — both paths must produce
    bit-identical (id, neighbor_id, cos) rows for the
    x_ivf_index_roundtrip equality contract.  Cogroup callback: queries
    probing a cell × that cell's members, one numpy matmul, HALF_UP 6-dp
    rounding, per-query local top-(k+1) (+1 headroom for the self row;
    the global window trims).  Closure captures only ints + module
    references, so cloudpickle ships it by value."""
    import numpy as np
    import pandas as pd

    def cell_topk(qpdf: "pd.DataFrame", dpdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"id": [], "neighbor_id": [], "cos": []})
        if not len(qpdf) or not len(dpdf):
            return empty
        dids = dpdf["id"].to_numpy(np.int64)
        order = np.argsort(dids, kind="stable")  # position order == id order
        dids = dids[order]
        dmat = np.array(dpdf["v"].tolist(), dtype=np.float64)[order]
        dnorms = np.maximum(np.linalg.norm(dmat, axis=1), 1e-12)
        qids = qpdf["id"].to_numpy(np.int64)
        qmat = np.array(qpdf["v"].tolist(), dtype=np.float64)
        qnorms = np.maximum(np.linalg.norm(qmat, axis=1), 1e-12)
        sims = (qmat @ dmat.T) / qnorms[:, None] / dnorms[None, :]
        # HALF_UP like F.round, matching the other scorers
        sims = np.floor(sims * 1e6 + 0.5) / 1e6
        n = len(dids)
        keys = (-np.rint(sims * 1e6).astype(np.int64)) * n + np.arange(n)[None, :]
        kk = min(kk_target + 1, n)  # +1 headroom for the self row
        part = np.argpartition(keys, kk - 1, axis=1)[:, :kk]
        part_keys = np.take_along_axis(keys, part, axis=1)
        topk = np.take_along_axis(part, np.argsort(part_keys, axis=1), axis=1)
        out = pd.DataFrame(
            {
                "id": np.repeat(qids, kk),
                "neighbor_id": dids[topk].ravel(),
                "cos": np.take_along_axis(sims, topk, axis=1).ravel(),
            }
        )
        return out[out["id"] != out["neighbor_id"]]

    return cell_topk


def _score_candidates(
    df: DataFrame,
    cand: DataFrame,
    vec_col: str,
    id_col: str,
    score: str = "join",
) -> DataFrame:
    """Score bare (id, neighbor_id) candidate pairs with exact cosine.

    'join' (DEFAULT — the 100 TB path): re-join vectors by key and fold
    cosine as a JVM column expression.  No driver collect anywhere; AQE
    is free to broadcast the vector side when it is actually small, so
    defaulting to 'join' costs nothing at test scale and never OOMs the
    driver at cluster scale.
    'broadcast' (opt-in): both vectors come from a driver-collected,
    id-sorted broadcast matrix and each Arrow batch is one numpy gather +
    row-wise dot — no vector ever rides a shuffle, but the whole corpus
    must fit on the driver (valid to ~10M x 64d, like
    cosine_topk_pandas).
    """
    if score == "join":
        import numpy as np

        # shuffle_hash hint: the vector table grows with the corpus and
        # Catalyst UNDERESTIMATES array-column sizes, so left alone it
        # picks BroadcastHashJoin on the corpus-sized vector side (plan
        # audit caught it) — the same at-scale OOM class the minhash
        # verify join hit.  SHJ keeps both sides shuffled, build on vecs.
        vecs = df.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"))
        paired = (
            cand.join(
                vecs.withColumnRenamed("_vid", "id")
                .withColumnRenamed("_v", "qv")
                .hint("shuffle_hash"),
                "id",
            )
            .join(
                vecs.withColumnRenamed("_vid", "neighbor_id")
                .withColumnRenamed("_v", "cv")
                .hint("shuffle_hash"),
                "neighbor_id",
            )
        )

        def cos_batches(it):
            import numpy as np

            for pdf in it:
                if not len(pdf):
                    continue
                q = np.array(pdf["qv"].tolist(), dtype=np.float64)
                c = np.array(pdf["cv"].tolist(), dtype=np.float64)
                qn = np.linalg.norm(q, axis=1)
                cn = np.linalg.norm(c, axis=1)
                qn[qn == 0] = 1.0
                cn[cn == 0] = 1.0
                cos = (q * c).sum(axis=1) / (qn * cn)
                # HALF_UP like F.round (np.round is banker's)
                cos = np.floor(cos * 1e6 + 0.5) / 1e6
                yield pdf[["id", "neighbor_id"]].assign(cos=cos)

        return paired.mapInPandas(
            cos_batches, "id long, neighbor_id long, cos double"
        )
    import numpy as np

    spark = df.sparkSession
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    mat = np.array([r[1] for r in rows], dtype=np.float64)[order]
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)
    b_norms = spark.sparkContext.broadcast(norms)

    def score_batches(it):
        import numpy as np

        cids, cmat, cnorms = b_ids.value, b_mat.value, b_norms.value
        for pdf in it:
            if not len(pdf):
                continue
            qi = np.searchsorted(cids, pdf["id"].to_numpy(np.int64))
            ci = np.searchsorted(cids, pdf["neighbor_id"].to_numpy(np.int64))
            cos = (cmat[qi] * cmat[ci]).sum(axis=1) / (cnorms[qi] * cnorms[ci])
            # HALF_UP like F.round (np.round is banker's)
            cos = np.floor(cos * 1e6 + 0.5) / 1e6
            yield pdf.assign(cos=cos)

    return cand.mapInPandas(score_batches, "id long, neighbor_id long, cos double")


def has_near_duplicate(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    smaller_id_only: bool = False,
    q_blocks: int = 4,
    c_blocks: int = 4,
) -> DataFrame:
    """Exact existence check with LINEAR output: (id, has_dup) — does any
    other vector (optionally: any SMALLER-id vector, the semantic-dedup
    drop rule) have cosine ≥ `threshold`?

    Same 2-D blocked cogroup decomposition as `cosine_topk_blocked`
    (numpy matmul per cell, no driver collect, bounded task memory), but
    each cell emits one boolean per query and the final fold is a tiny
    keyed OR — so the exact O(n²) similarity scan costs matmul speed and
    produces n rows, not n² pairs.  This is the fast exact ground truth
    for near-dup contracts (the HOF pair-join `embedding_near_dups` is
    ~50× slower per pair and emits the quadratic pair list).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    cgrid = spark.range(c_blocks).select(F.col("id").cast("int").alias("cblk"))
    qgrid = spark.range(q_blocks).select(F.col("id").cast("int").alias("qblk"))
    q = (
        df.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .withColumn("qblk", F.pmod(F.xxhash64("qid"), F.lit(q_blocks)).cast("int"))
        .crossJoin(F.broadcast(cgrid))
    )
    c = (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .withColumn("cblk", F.pmod(F.xxhash64("cid"), F.lit(c_blocks)).cast("int"))
        .crossJoin(F.broadcast(qgrid))
    )
    thr = float(threshold)
    smaller = smaller_id_only

    def local_any(qpdf: "pd.DataFrame", cpdf: "pd.DataFrame") -> "pd.DataFrame":
        if not len(qpdf):
            return pd.DataFrame({"id": [], "d": []})
        qids = qpdf["qid"].to_numpy(np.int64)
        if not len(cpdf):
            return pd.DataFrame({"id": qids, "d": np.zeros(len(qids), dtype=bool)})
        cids = cpdf["cid"].to_numpy(np.int64)
        cmat = np.array(cpdf["cv"].tolist(), dtype=np.float64)
        cnorms = np.maximum(np.linalg.norm(cmat, axis=1), 1e-12)
        qmat = np.array(qpdf["qv"].tolist(), dtype=np.float64)
        qnorms = np.maximum(np.linalg.norm(qmat, axis=1), 1e-12)
        sims = (qmat @ cmat.T) / qnorms[:, None] / cnorms[None, :]
        ok = sims >= thr
        if smaller:
            ok &= cids[None, :] < qids[:, None]
        else:
            ok &= cids[None, :] != qids[:, None]
        return pd.DataFrame({"id": qids, "d": ok.any(axis=1)})

    per_cell = (
        q.groupBy("qblk", "cblk")
        .cogroup(c.groupBy("qblk", "cblk"))
        .applyInPandas(local_any, "id long, d boolean")
    )
    return per_cell.groupBy("id").agg(F.max("d").alias("has_dup"))


def build_lsh_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 4,
    num_tables: int = 12,
    dim: int = 64,
) -> None:
    """Persist an LSH index: bucket assignments partitioned by table_idx
    (so a probe prunes to its table's directories) plus the id→vector
    map.  Build once over the corpus, probe many times —
    at 100 TB re-bucketing per query batch is the cost you amortize
    away; the index build is one Arrow pass + one partitioned write.

    Layout: `{path}/buckets/table_idx=*/...` (id, bucket) and
    `{path}/vectors/` (id, vec).  Hyperplanes are the same fixed-seed
    family as `lsh_ann_topk`, so index params live in the path contract:
    query with the SAME (num_planes, num_tables, dim).
    """
    bucketed = _lsh_bucketize(df, vec_col, id_col, num_planes, num_tables, dim)
    # conditional cluster-for-write with a write-parallelism salt: a
    # plain repartition("table_idx") would cap the corpus-sized buckets
    # write at num_tables tasks.  Salting by hash(id) % (input splits /
    # num_tables) keeps each table_idx directory prunable whole while
    # writing it with many tasks; a few-split build skips the exchange.
    try:
        _have = bucketed.rdd.getNumPartitions()
    except Exception:  # Spark Connect: size unknowable — salt modestly
        _have = 32 * num_tables
    _save_params(
        df.sparkSession, path,
        num_planes=num_planes, num_tables=num_tables, dim=dim,
    )

    # the buckets and vectors writes are independent — both pure
    # functions of `df`, disjoint output tables — so they run as
    # concurrent job groups
    def _buckets_leg():
        _pw.cluster_for_write(
            bucketed, "table_idx",
            salt_col="id", salt_per_value=max(1, _have // max(1, num_tables)),
        ).write.mode("overwrite").partitionBy("table_idx").parquet(
            f"{path}/buckets"
        )

    _pl.overlap_all(
        _buckets_leg,
        lambda: _write_vectors(df, path, id_col, vec_col, "overwrite", "vbucket"),
    )


def update_lsh_index(
    spark,
    path: str,
    delta_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally add vectors to a persisted LSH index.  The
    hyperplane family is fixed-seed and data-independent (the path
    contract), so appends are EXACTLY what a rebuild would produce — no
    `train_df=` anchor needed, unlike IVF/PQ.  Plane geometry comes
    from `{path}/params` (persisted by `build_lsh_index`), so the delta
    bucketizes with the index's own family by construction.  Cost:
    one Arrow bucketize pass over the delta + partition appends."""
    bucketed = _lsh_bucketize(delta_df, vec_col, id_col, **_read_params(spark, path))

    # independent appends to disjoint tables — run as concurrent job
    # groups
    def _buckets_leg():
        bucketed.write.mode("append").partitionBy("table_idx").parquet(
            f"{path}/buckets"
        )

    _pl.overlap_all(
        _buckets_leg,
        lambda: _write_vectors(delta_df, path, id_col, vec_col, "append", "vbucket"),
    )


def remove_from_lsh_index(spark, path: str, ids: DataFrame) -> None:
    """Purge vectors from a persisted LSH index (``ids``: a one-column
    frame of vector ids); bounded rewrites via `_partwrite.remove_keys`.
    Every id sits in every hash table, so the buckets rewrite touches
    all table partitions — but of (id, bucket) longs, never vectors."""
    ids_n = _pw.id_set(ids)
    for table, ddl, part in (
        ("vectors", _LSH_VECTORS_DDL, "vbucket"),
        ("buckets", _LSH_BUCKETS_DDL, "table_idx"),
    ):
        tbl = spark.read.schema(ddl).parquet(f"{path}/{table}")
        _pw.remove_keys(spark, tbl, f"{path}/{table}", "id", part, ids_n)


def lsh_index_stats(spark, path: str) -> DataFrame:
    """Census of a persisted LSH index: indexed vector count, table
    count, and the hottest bucket's load (the collision-rate health
    signal — a degenerate plane family shows up as one overfull
    bucket).  Bounded: one (table_idx, bucket)-keyed count → one row."""
    per_bucket = (
        spark.read.schema(_LSH_BUCKETS_DDL).parquet(f"{path}/buckets")
        .groupBy("table_idx", "bucket")
        .agg(F.count("*").alias("n"))
    )
    n_vec = spark.read.schema(_LSH_VECTORS_DDL).parquet(f"{path}/vectors").agg(
        F.count("*").cast("long").alias("n_vectors")
    )
    return (
        per_bucket.agg(
            F.countDistinct("table_idx").cast("long").alias("n_tables"),
            F.max("n").cast("long").alias("max_bucket"),
            F.count("*").cast("long").alias("n_nonempty_buckets"),
        )
        .crossJoin(n_vec)
        .select("n_vectors", "n_tables", "max_bucket", "n_nonempty_buckets")
    )


def _ann_filter_semi(
    df: DataFrame, filter_ids: DataFrame | None, col: str
) -> DataFrame:
    """Metadata-filter pushdown shared by every persisted-index probe
    (r9, VERDICT r8 #3): semi-join the allowed-id set against the
    candidate pool BEFORE shortlist/top-k, so each query's k neighbors
    are the true top-k OF THE FILTERED SET — a post-hoc filter on k
    pre-filter survivors returns fewer than k and misses filtered-set
    neighbors that lost to excluded ones.  ``filter_ids`` is any
    one-column DataFrame of allowed ids (e.g. the output of a
    metadata predicate on a sidecar table).  The filter side can be
    corpus-sized (a 50% selectivity filter IS half the corpus), so it
    is hinted shuffle_hash — never broadcast (the array-size
    underestimate precedent)."""
    if filter_ids is None:
        return df
    fcol = filter_ids.columns[0]
    flt = (
        filter_ids.select(F.col(fcol).cast("long").alias(col))
        .dropDuplicates([col])
    )
    return df.join(flt.hint("shuffle_hash"), col, "left_semi")


def query_lsh_index(
    spark,
    path: str,
    queries_df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 4,
    num_tables: int = 12,
    dim: int = 64,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Probe a persisted LSH index (see `build_lsh_index`) with a batch
    of query vectors: bucketize ONLY the queries (cheap), equi-join
    against the stored buckets, re-join vectors for exact scoring —
    the same collect-free 'join' scorer as the inline operator.  The
    corpus is never re-bucketized.  Cost shape, stated honestly: the
    (table_idx, bucket) equi-join scans the full buckets table — but
    that table is (id, bucket) longs (metadata-sized, ~24 bytes per
    row per table), and only matching candidates reach the
    vector-fetch join, so corpus VECTORS are touched per-candidate
    only (a literal bucket-list pushdown would need the probe's
    distinct buckets collected, which saturates to every bucket for
    any real query batch — the filter join is the scale-correct form).

    Same output contract as `lsh_ann_topk` (self-matches excluded when a
    query id also exists in the index).

    The plane family comes from `{path}/params` when present (written
    by every build — so probes keep working after `auto_maintain`
    resizes num_planes to the corpus); the explicit arguments are the
    fallback for pre-params indexes only.
    """
    # persisted family wins: probes must keep working after
    # auto_maintain resizes num_planes; a corrupt/unreadable params
    # table on an EXISTING path propagates instead of silently falling
    # back to the caller's (possibly wrong) default family and
    # returning wrong/empty neighbors (ADVICE r7)
    planes = _read_params(
        spark, path,
        fallback={"num_planes": num_planes, "num_tables": num_tables, "dim": dim},
    )
    q_buckets = _lsh_bucketize(queries_df, vec_col, id_col, **planes)
    c_buckets = spark.read.schema(_LSH_BUCKETS_DDL).parquet(f"{path}/buckets").select(
        F.col("id").alias("neighbor_id"), "table_idx", "bucket"
    )
    # metadata-filter pushdown (r9): restrict the candidate pool BEFORE
    # the top-k window, so k is guaranteed from the filtered set
    c_buckets = _ann_filter_semi(c_buckets, filter_ids, "neighbor_id")
    cand = (
        q_buckets.join(c_buckets, ["table_idx", "bucket"])
        .filter(F.col("id") != F.col("neighbor_id"))
        .select("id", "neighbor_id")
        .dropDuplicates(["id", "neighbor_id"])
    )
    vectors = spark.read.schema(_LSH_VECTORS_DDL).parquet(f"{path}/vectors")
    q_vecs = queries_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("qv"))
    # stored corpus vectors grow with the index — never let the array-size
    # underestimate broadcast them (see _score_candidates); the query
    # batch side may be small but pays only a shuffle of itself
    paired = cand.join(q_vecs.hint("shuffle_hash"), "id").join(
        vectors.select(
            F.col("id").alias("neighbor_id"), F.col("vec").alias("cv")
        ).hint("shuffle_hash"),
        "neighbor_id",
    )

    def cos_batches(it):
        import numpy as np

        for pdf in it:
            if not len(pdf):
                continue
            q = np.array(pdf["qv"].tolist(), dtype=np.float64)
            c = np.array(pdf["cv"].tolist(), dtype=np.float64)
            qn = np.linalg.norm(q, axis=1)
            cn = np.linalg.norm(c, axis=1)
            qn[qn == 0] = 1.0
            cn[cn == 0] = 1.0
            cos = (q * c).sum(axis=1) / (qn * cn)
            cos = np.floor(cos * 1e6 + 0.5) / 1e6  # HALF_UP like F.round
            yield pdf[["id", "neighbor_id"]].assign(cos=cos)

    scored = paired.mapInPandas(cos_batches, "id long, neighbor_id long, cos double")
    return _rank_topk(scored, k)


def _pq_codebooks_from_matrix(Xn, m: int, ksub: int, iters: int):
    """Deterministic per-subspace k-means codebooks on an in-memory
    training matrix — the matrix-level core of `_train_pq_codebooks`,
    shared with the IVFADC trainer (operators/ivfpq), where the training
    matrix is the cell RESIDUALS rather than the normalized vectors.
    Returns an (m, ksub, dim/m) float64 array — a few KB, broadcast
    once."""
    import numpy as np

    dim = Xn.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    rs = np.random.RandomState(11)
    books = np.empty((m, ksub, sub))
    for j in range(m):
        S = Xn[:, j * sub : (j + 1) * sub]
        k_eff = min(ksub, len(S))
        C = S[rs.choice(len(S), size=k_eff, replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_eff):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        if k_eff < ksub:  # degenerate tiny corpus: pad with copies
            C = np.vstack([C, np.repeat(C[:1], ksub - k_eff, axis=0)])
        books[j] = C
    return books


def _train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int,
    ksub: int,
    train_sample: int,
    iters: int,
):
    """Deterministic per-subspace k-means codebooks (product quantization,
    Jégou et al. 2011, "Product quantization for nearest neighbor
    search") on the same bounded partitioning-invariant sample as
    `_train_spherical_kmeans`.  Vectors are L2-normalized first so the
    asymmetric dot-product scan approximates cosine."""
    Xn = _train_sample_matrix(df, vec_col, id_col, train_sample)
    return _pq_codebooks_from_matrix(Xn, m, ksub, iters)


def pq_topk(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 64,
    train_sample: int = 10_000,
    iters: int = 8,
    q_blocks: int = 4,
    c_blocks: int = 4,
    rerank: int = 100,
) -> DataFrame:
    """Approximate top-k via product quantization + asymmetric distance
    (ADC) shortlist + exact re-rank — the memory-bound 100 TB ANN path
    (Jégou et al. 2011).

    The corpus is compressed to `m` sub-codes of ⌈log2 ksub⌉ bits packed
    into ONE int64 per vector (m=8, ksub≤256): a 64-dim float64 row (512
    B) becomes 16 B of (id, code) — 32× less shuffle/cache footprint, so
    the blocked all-pairs scan that is memory-bound on raw vectors stays
    in-cache on codes.  Queries stay full-precision: each task builds one
    (m × ksub) dot-product table per query against the broadcast
    codebooks and scores every candidate code with m table lookups — no
    decode, no per-pair float vector in the scan.

    The ADC ranking is coarse (a lossy 8-byte sketch of a 512-byte
    vector), so it selects a per-query shortlist of `rerank` candidates,
    which the collect-free 'join' scorer re-ranks with EXACT cosine —
    only n·rerank vector pairs ever re-join, versus n² for brute force.
    `rerank` and `ksub` trade compute for recall (measured recall@5 on
    the 2k-vector corpus: ≈0.3 ADC-only; 0.73 at ksub=64/rerank=50; 0.86
    at the ksub=64/rerank=100 defaults) — at larger corpora raise
    `rerank` with expected neighbor-list density, not corpus size.

    The scan is the same 2-D blocked cogroup as `cosine_topk_blocked`
    (queries × code-blocks, local numpy, one window merge), so the plan
    scales by raising block counts.  Codebooks are deterministic
    (fixed-seed k-means per subspace on the bounded
    partitioning-invariant sample); cos rounds HALF_UP to 6 dp with
    neighbor-id tie-break, so the output is fully deterministic.

    Returns (id, neighbor_id, cos, rank) — same contract as the other
    ANN operators; recall vs exact is the driver contract (`x_ann_pq`).
    """
    if ksub > 256:
        raise ValueError("ksub > 256 cannot pack into 8-bit sub-codes")
    books = _train_pq_codebooks(df, vec_col, id_col, m, ksub, train_sample, iters)
    spark = df.sparkSession
    b_books = spark.sparkContext.broadcast(books)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    codes = base.mapInPandas(_make_pq_encode(b_books), "cid long, code long")
    shortlist = _pq_adc_shortlist(
        base, codes, b_books, max(rerank, k), q_blocks, c_blocks
    )
    scored = _score_candidates(df, shortlist, vec_col, id_col, "join")
    return _rank_topk(scored, k)


def _make_pq_encode(b_books):
    """mapInPandas generator packing each (id, v) row's m sub-codes into
    one int64 against the broadcast codebooks.  Shared by `pq_topk` and
    `build_pq_index` so inline and persisted codes are bit-identical.
    Closure captures the broadcast only — pickled by value."""

    def encode(it):
        import numpy as np  # noqa: F811 — pickled by value for workers
        import pandas as pd

        B = b_books.value
        mm, kk_, sub = B.shape
        for pdf in it:
            if not len(pdf):
                continue
            v = np.array(pdf["v"].tolist(), dtype=np.float64)
            vn = v / np.maximum(np.linalg.norm(v, axis=1), 1e-12)[:, None]
            code = np.zeros(len(pdf), dtype=np.int64)
            for j in range(mm):
                S = vn[:, j * sub : (j + 1) * sub]
                d2 = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                code |= d2.argmin(axis=1).astype(np.int64) << (8 * j)
            yield pd.DataFrame({"cid": pdf["id"].to_numpy(np.int64), "code": code})

    return encode


def _pq_adc_shortlist(
    base_q: DataFrame,
    codes: DataFrame,
    b_books,
    shortlist_n: int,
    q_blocks: int,
    c_blocks: int,
) -> DataFrame:
    """Blocked ADC scan: full-precision queries (id, v) × packed codes
    (cid, code) → per-query shortlist of `shortlist_n` candidate pairs
    (bare ids).  The 2-D cogroup decomposition of `cosine_topk_blocked`,
    but the candidate side is 16 bytes/row.  Shared by `pq_topk` and
    `query_pq_index`."""
    import numpy as np
    import pandas as pd

    spark = base_q.sparkSession
    cgrid = spark.range(c_blocks).select(F.col("id").cast("int").alias("cblk"))
    qgrid = spark.range(q_blocks).select(F.col("id").cast("int").alias("qblk"))
    q = (
        base_q.select(F.col("id").alias("qid"), F.col("v").alias("qv"))
        .withColumn("qblk", F.pmod(F.xxhash64("qid"), F.lit(q_blocks)).cast("int"))
        .crossJoin(F.broadcast(cgrid))
    )
    c = (
        codes.withColumn(
            "cblk", F.pmod(F.xxhash64("cid"), F.lit(c_blocks)).cast("int")
        ).crossJoin(F.broadcast(qgrid))
    )

    def local_adc(qpdf: "pd.DataFrame", cpdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"id": [], "neighbor_id": [], "score": []})
        if not len(qpdf) or not len(cpdf):
            return empty
        B = b_books.value
        mm, kk_, sub = B.shape
        cids = cpdf["cid"].to_numpy(np.int64)
        order = np.argsort(cids, kind="stable")  # position order == id order
        cids = cids[order]
        code = cpdf["code"].to_numpy(np.int64)[order]
        sub_codes = np.empty((len(cids), mm), dtype=np.int64)
        for j in range(mm):
            sub_codes[:, j] = (code >> (8 * j)) & 0xFF
        qids = qpdf["qid"].to_numpy(np.int64)
        qmat = np.array(qpdf["qv"].tolist(), dtype=np.float64)
        qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1), 1e-12)[:, None]
        # ADC: one (m, ksub) dot table per query, m lookups per candidate
        scores = np.zeros((len(qids), len(cids)))
        for j in range(mm):
            T = qn[:, j * sub : (j + 1) * sub] @ B[j].T  # (nq, ksub)
            scores += T[:, sub_codes[:, j]]
        scores = np.floor(scores * 1e6 + 0.5) / 1e6  # HALF_UP like F.round
        n = len(cids)
        keys = (-np.rint(scores * 1e6).astype(np.int64)) * n + np.arange(n)[None, :]
        kk = min(shortlist_n + 1, n)  # +1 headroom for the self row
        part = np.argpartition(keys, kk - 1, axis=1)[:, :kk]
        part_keys = np.take_along_axis(keys, part, axis=1)
        topk = np.take_along_axis(part, np.argsort(part_keys, axis=1), axis=1)
        out = pd.DataFrame(
            {
                "id": np.repeat(qids, kk),
                "neighbor_id": cids[topk].ravel(),
                "score": np.take_along_axis(scores, topk, axis=1).ravel(),
            }
        )
        return out[out["id"] != out["neighbor_id"]]

    local = (
        q.groupBy("qblk", "cblk")
        .cogroup(c.groupBy("qblk", "cblk"))
        .applyInPandas(local_adc, "id long, neighbor_id long, score double")
    )
    # per-query ADC shortlist across blocks; bare pairs out for re-rank
    w_adc = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        local.withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= shortlist_n)
        .select("id", "neighbor_id")
    )


#: hash-bucket fanout of the PQ codes/vectors tables — removals rewrite
#: only the buckets holding a removed id (≤64 dirs), updates append
_PQ_BUCKETS = 64


def _write_vectors(
    df: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    mode: str,
    part: str = "bucket",
) -> None:
    """Write ``df``'s (id, vec) pairs to `{path}/vectors` — the exact
    re-rank table of the PQ, IVFADC and LSH indexes — hash-bucketed by
    id into ``_PQ_BUCKETS`` partitions of column ``part``.  ``mode`` is
    "overwrite" (build) or "append" (update).  Clustered by bucket only
    when many-split (one file per bucket instead of tasks × buckets at
    scale); a few-split frame skips the array<double> exchange."""
    _pw.cluster_for_write(
        df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        ).withColumn(part, F.pmod(F.xxhash64("id"), F.lit(_PQ_BUCKETS))),
        part,
    ).write.mode(mode).partitionBy(part).parquet(f"{path}/vectors")


def _save_codebooks(spark, books, path: str) -> None:
    """Write the m × ksub × dim/m codebook array as `{path}/codebooks`."""
    spark.createDataFrame(
        [
            (j, c, [float(x) for x in books[j, c]])
            for j in range(books.shape[0])
            for c in range(books.shape[1])
        ],
        _PQ_CODEBOOKS_DDL,
    ).write.mode("overwrite").parquet(f"{path}/codebooks")


def _load_codebooks(spark, path: str):
    """The one bounded driver read of a PQ/IVFADC index's codebooks:
    the m × ksub × dim/m array `_save_codebooks` wrote."""
    import numpy as np

    cb = spark.read.schema(_PQ_CODEBOOKS_DDL).parquet(f"{path}/codebooks").collect()
    mm = max(r["subspace"] for r in cb) + 1
    kk = max(r["code"] for r in cb) + 1
    books = np.empty((mm, kk, len(cb[0]["centroid"])))
    for r in cb:
        books[r["subspace"], r["code"]] = r["centroid"]
    return books


def build_pq_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 64,
    train_sample: int = 10_000,
    iters: int = 8,
    train_df: DataFrame | None = None,
) -> None:
    """Persist a PQ index: trained codebooks, packed int64 codes, and the
    id→vector map for exact re-rank.  Build once, probe many — at 100 TB
    the codes table is ~32× smaller than the vectors and is the ONLY
    thing the ADC scan reads; vectors are touched just for the per-query
    shortlist re-join.

    Layout: `{path}/codebooks` (subspace, code, centroid),
    `{path}/codes` (cid, code; hash-bucket-partitioned),
    `{path}/vectors` (id, vec; same bucketing), `{path}/params` (the
    quantizer family, preserved by `retrain_pq_index`).  Query with the
    same (m, ksub) family — params are part of the path contract.

    ``train_df`` trains the codebooks on a different frame than the one
    being encoded — the anchor of the incremental lifecycle's
    equivalence contract (`update_pq_index`): an index built over A then
    updated with B is row-identical to a build over A∪B with
    ``train_df=A``, because appends never move the codebooks.
    """
    if ksub > 256:
        raise ValueError("ksub > 256 cannot pack into 8-bit sub-codes")
    books = _train_pq_codebooks(
        df if train_df is None else train_df,
        vec_col, id_col, m, ksub, train_sample, iters,
    )
    spark = df.sparkSession
    b_books = spark.sparkContext.broadcast(books)
    _save_codebooks(spark, books, path)
    _save_params(
        spark, path, df if train_df is None else train_df,
        m=m, ksub=ksub, train_sample=train_sample, iters=iters,
    )
    base = _spread(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
    bucket = F.pmod(F.xxhash64("cid"), F.lit(_PQ_BUCKETS)).alias("bucket")

    # the codes and vectors writes are independent — both pure
    # functions of `df`, disjoint output tables — so they run as
    # concurrent job groups (the vectors copy hides under the encode)
    def _codes_leg():
        base.mapInPandas(
            _make_pq_encode(b_books), "cid long, code long"
        ).withColumn("bucket", bucket).repartition("bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(f"{path}/codes")

    _pl.overlap_all(
        _codes_leg,
        lambda: _write_vectors(df, path, id_col, vec_col, "overwrite"),
    )


def query_pq_index(
    spark,
    path: str,
    queries_df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_blocks: int = 4,
    c_blocks: int = 4,
    rerank: int = 100,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Probe a persisted PQ index (see `build_pq_index`): load the
    codebooks (m·ksub rows — the one bounded driver read), ADC-scan the
    stored codes with the full-precision query batch, exact-re-rank each
    query's shortlist against the stored vectors.  The corpus is never
    re-encoded; the scan reads 16-byte code rows only.

    Same output contract as `pq_topk` (self-matches excluded when a
    query id also exists in the index)."""
    b_books = spark.sparkContext.broadcast(_load_codebooks(spark, path))
    codes = spark.read.schema(_PQ_CODES_DDL).parquet(f"{path}/codes").select("cid", "code")
    # metadata-filter pushdown: filter the 16-byte code rows BEFORE
    # the ADC shortlist, so the rerank pool is drawn from the filtered
    # set and k is guaranteed from it
    codes = _ann_filter_semi(codes, filter_ids, "cid")
    base_q = queries_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    shortlist = _pq_adc_shortlist(
        base_q, codes, b_books, max(rerank, k), q_blocks, c_blocks
    )
    # exact re-rank vectors: stored corpus vectors ∪ the query batch
    # (same ids carry identical vectors, so the union is conflict-free)
    vectors = (
        spark.read.schema(_PQ_VECTORS_DDL).parquet(f"{path}/vectors")
        .select("id", "vec")
        .unionByName(
            queries_df.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
            )
        )
        .dropDuplicates(["id"])
    )
    scored = _score_candidates(vectors, shortlist, "vec", "id", "join")
    return _rank_topk(scored, k)


def update_pq_index(
    spark,
    path: str,
    delta_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally add vectors to a persisted PQ index — the PQ
    counterpart of `update_ivf_index` (a daily-crawl ingest encodes only
    the delta; re-encoding the existing corpus would defeat
    build-once/probe-many).  ``delta_df`` ids must be disjoint from the
    indexed set (the same ingest contract).

    Cost model — every stage is delta-sized: ONE bounded driver read
    (the m·ksub codebooks — frozen; appends never move them, which is
    what makes `== rebuild with train_df=` exact), one Arrow encode pass
    over the delta, and bucket-partition APPENDS into codes and vectors
    (existing partitions untouched)."""
    b_books = spark.sparkContext.broadcast(_load_codebooks(spark, path))
    base = delta_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    # the codes and vectors appends are independent — disjoint tables,
    # both pure functions of the delta — so they run as concurrent job
    # groups
    def _codes_leg():
        base.mapInPandas(
            _make_pq_encode(b_books), "cid long, code long"
        ).withColumn(
            "bucket", F.pmod(F.xxhash64("cid"), F.lit(_PQ_BUCKETS))
        ).write.mode("append").partitionBy("bucket").parquet(f"{path}/codes")

    _pl.overlap_all(
        _codes_leg,
        lambda: _write_vectors(delta_df, path, id_col, vec_col, "append"),
    )


def remove_from_pq_index(spark, path: str, ids: DataFrame) -> None:
    """Purge vectors from a persisted PQ index (``ids``: a one-column
    frame of vector ids); bounded rewrites via `_partwrite.remove_keys`."""
    ids_n = _pw.id_set(ids)
    # locate affected buckets PER TABLE: the two tables hash their own
    # key column, and xxhash64 is type-width-sensitive (an int id would
    # bucket vectors differently from the long cids) — a shared affected
    # list could silently strand rows in one table
    for table, ddl, key in (
        ("vectors", _PQ_VECTORS_DDL, "id"),
        ("codes", _PQ_CODES_DDL, "cid"),
    ):
        tbl = spark.read.schema(ddl).parquet(f"{path}/{table}")
        _pw.remove_keys(spark, tbl, f"{path}/{table}", key, "bucket", ids_n)


def pq_index_stats(spark, path: str) -> DataFrame:
    """Census of a persisted PQ index: vector/code row counts (equal in
    a healthy index — the encode pass emits exactly one packed-code row
    per vector) and the bucket spread.  One (bucket)-keyed count over
    each table → ≤ _PQ_BUCKETS rows → a single bounded output row."""
    v = spark.read.schema(_PQ_VECTORS_DDL).parquet(f"{path}/vectors").groupBy("bucket").agg(
        F.count("*").alias("n")
    )
    c = spark.read.schema(_PQ_CODES_DDL).parquet(f"{path}/codes").agg(
        F.count("*").cast("long").alias("n_codes")
    )
    return (
        v.agg(
            F.sum("n").cast("long").alias("n_vectors"),
            F.count("*").cast("long").alias("n_buckets"),
            F.max("n").cast("long").alias("max_bucket"),
        )
        .crossJoin(c)
        .select(
            "n_vectors", "n_codes", "n_buckets", "max_bucket",
            (F.col("n_vectors") == F.col("n_codes")).alias("consistent"),
        )
    )


def retrain_pq_index(
    spark,
    path: str,
    m: int | None = None,
    ksub: int | None = None,
    train_sample: int | None = None,
    iters: int | None = None,
) -> None:
    """Re-train the codebooks over the CURRENT vectors and re-encode —
    the maintenance pass that repays append drift (`update_pq_index`
    freezes the codebooks by design).  Geometry defaults to the INDEX'S
    OWN family from `{path}/params` (the retrain_ivf_index contract: a
    maintenance pass must not silently change the quantizer family);
    explicit args override."""
    geometry = _read_params(
        spark, path, m=m, ksub=ksub, train_sample=train_sample, iters=iters
    )
    members = (
        spark.read.schema(_PQ_VECTORS_DDL).parquet(f"{path}/vectors")
        .select("id", "vec")
        .localCheckpoint(eager=True)
    )
    build_pq_index(members, path, vec_col="vec", id_col="id", **geometry)


def build_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_centroids: int = 16,
    train_sample: int = 10_000,
    iters: int = 8,
    train_df: DataFrame | None = None,
) -> None:
    """Persist an IVF index (parallel to `build_lsh_index`):
    train the deterministic spherical k-means quantizer once, then write

    - `{path}/centroids`: (cell, centroid array<double>) — num_centroids
      rows, the coarse quantizer itself;
    - `{path}/cells/cell=*/...`: (id, v) member vectors partitioned by
      cell, so a probe's parquet scan prunes to its nprobe directories.

    Build once over the corpus, probe many times: at 100 TB the k-means
    train (bounded driver sample) and the one Arrow assignment pass are
    the amortized cost; queries never re-cluster or re-assign the corpus.
    Query with the SAME (num_centroids, train_sample, iters) family —
    params are part of the path contract, like the LSH planes.

    ``train_df`` trains the quantizer on a different frame than the one
    being assigned — the standard at-scale split (train on yesterday's
    sample, assign today's corpus) and the anchor of the incremental
    lifecycle's equivalence contract (`update_ivf_index`): an index
    built over A then updated with B is row-identical to a build over
    A∪B with ``train_df=A``, because appends never move the centroids.
    """
    C = _train_spherical_kmeans(
        df if train_df is None else train_df,
        vec_col, id_col, num_centroids, train_sample, iters,
    )
    spark = df.sparkSession
    b_C = spark.sparkContext.broadcast(C)
    _save_centroids(spark, C, path)
    # persist the quantizer family so maintenance passes (retrain) can
    # preserve the index's geometry instead of assuming defaults
    _save_params(
        spark, path,
        num_centroids=num_centroids, train_sample=train_sample, iters=iters,
    )
    base = _spread(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
    assigned = base.mapInPandas(
        _make_assign_cells(b_C, 1, carry_v=True), "id long, cell int, v array<double>"
    )
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/cells")


def _save_centroids(spark, C, path: str) -> None:
    """Write the coarse quantizer matrix as `{path}/centroids`."""
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(C)],
        _IVF_CENTROIDS_DDL,
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def _load_ivf_centroids(spark, path: str):
    """The one bounded driver read of the IVF family: the
    num_centroids × dim quantizer matrix, cell-ordered."""
    import numpy as np

    cent_rows = spark.read.schema(_IVF_CENTROIDS_DDL).parquet(f"{path}/centroids").collect()
    return np.array(
        [r["centroid"] for r in sorted(cent_rows, key=lambda r: r["cell"])],
        dtype=np.float64,
    )


def query_ivf_index(
    spark,
    path: str,
    queries_df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 6,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Probe a persisted IVF index (see `build_ivf_index`) with a batch of
    query vectors: load the centroid matrix (num_centroids rows — the one
    bounded driver read), collect the query batch (bounded, like every
    probe batch) and assign it to its `nprobe` nearest cells ON THE
    DRIVER with the build's own assignment code (`_probe_cells`), then
    cogroup the probes with the stored cell members for the same
    cell-local matmul top-k as the inline operator (`_make_cell_topk` —
    bit-identical scoring).  The corpus is never re-clustered or
    re-assigned; the cells scan prunes to the probed cell directories.

    Same output contract as `ivf_topk` (self-matches excluded when a
    query id also exists in the index).
    """
    C = _load_ivf_centroids(spark, path)
    probe_v, probed, _ = _probe_cells(
        spark, C, queries_df, id_col, vec_col, min(nprobe, len(C))
    )
    # literal cell filter: without it the cogroup shuffles the ENTIRE
    # cells table (pinned by test_ivf_probe_prunes_cells)
    cells = (
        spark.read.schema(_IVF_CELLS_DDL).parquet(f"{path}/cells")
        .filter(F.col("cell").isin(probed))
        .select("id", "cell", "v")
    )
    # metadata-filter pushdown (r9): restrict cell members BEFORE the
    # cell-local top-k, so k is guaranteed from the filtered set
    cells = _ann_filter_semi(cells, filter_ids, "id")
    scored = (
        probe_v.groupBy("cell")
        .cogroup(cells.groupBy("cell"))
        .applyInPandas(_make_cell_topk(k), "id long, neighbor_id long, cos double")
    )
    return _rank_topk(scored, k)


def update_ivf_index(
    spark,
    path: str,
    delta_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally add vectors to a persisted IVF index — the
    embedding-side counterpart of `retrieval.update_text_index` (a
    daily-crawl ingest embeds only the delta; re-assigning the existing
    100 TB of vectors would defeat build-once/probe-many).  ``delta_df``
    ids must be disjoint from the indexed set (the same ingest contract
    as the text index; exact dedup runs upstream).

    Cost model — every stage is delta-sized:

    - centroids: ONE bounded driver read (num_centroids × dim) — the
      quantizer is frozen; appends never move it (that is what makes
      the equivalence contract exact; drift is repaid by
      `retrain_ivf_index` when `ivf_index_stats` says so);
    - assignment: one Arrow `mapInPandas` pass over the delta;
    - cells: delta rows APPEND into their cell partitions — existing
      partitions are untouched.

    Equivalence contract: after any sequence of updates the index is
    row-identical to `build_ivf_index` over the union with
    ``train_df=`` the original corpus, and probes return identical
    rankings (pinned by test_properties).
    """
    C = _load_ivf_centroids(spark, path)
    b_C = spark.sparkContext.broadcast(C)
    base = delta_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    assigned = base.mapInPandas(
        _make_assign_cells(b_C, 1, carry_v=True), "id long, cell int, v array<double>"
    )
    assigned.write.mode("append").partitionBy("cell").parquet(f"{path}/cells")


def remove_from_ivf_index(spark, path: str, ids: DataFrame) -> None:
    """Purge vectors from a persisted IVF index — the "removed" half of
    a full-snapshot crawl diff, mirroring `retrieval.remove_from_index`.
    ``ids`` is a one-column DataFrame of vector ids; bounded cell
    rewrites via `_partwrite.remove_keys`."""
    cells = spark.read.schema(_IVF_CELLS_DDL).parquet(f"{path}/cells")
    _pw.remove_keys(spark, cells, f"{path}/cells", "id", "cell", _pw.id_set(ids))


def ivf_index_stats(spark, path: str) -> DataFrame:
    """Cell census of a persisted IVF index — the retrain trigger.
    Appends freeze the quantizer (`update_ivf_index`), so a drifting
    delta distribution shows up here as cell imbalance; when
    `imbalance_pm` (1000 · max cell / mean cell) crosses the
    deployment's threshold, `retrain_ivf_index` repays the drift.
    One (cell)-keyed count over the cells table → num_centroids rows →
    a single bounded output row; exact integers only.
    """
    per_cell = (
        spark.read.schema(_IVF_CELLS_DDL).parquet(f"{path}/cells")
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )
    return per_cell.agg(
        F.count("*").alias("n_cells"),
        F.sum("n").cast("long").alias("n_vectors"),
        F.max("n").alias("max_cell"),
        F.min("n").alias("min_cell"),
        F.expr("1000 * max(n) * count(*) div sum(n)").alias("imbalance_pm"),
    )


def retrain_ivf_index(
    spark,
    path: str,
    num_centroids: int | None = None,
    train_sample: int | None = None,
    iters: int | None = None,
) -> None:
    """Re-train the quantizer over the CURRENT members and re-assign —
    the weekly/monthly maintenance pass that repays append drift
    (`update_ivf_index` freezes centroids by design).  One cells read
    (checkpointed so the overwrite cannot race it), then a standard
    `build_ivf_index` over the members: bounded-sample k-means train +
    one Arrow assignment pass — the same amortized cost as the original
    build, paid only when `ivf_index_stats` says the index drifted.

    Geometry defaults to the INDEX'S OWN family (r5 ADVICE: a retrain
    must not silently shrink a 64-cell index to 16 cells): the params
    persisted by `build_ivf_index` at `{path}/params`, falling back to
    the stored centroid count for indexes built before params existed.
    Pass explicit values only to deliberately change the family."""
    geometry = _read_params(
        spark, path, fallback={"train_sample": 10_000, "iters": 8},
        num_centroids=num_centroids, train_sample=train_sample, iters=iters,
    )
    if geometry["num_centroids"] is None:  # pre-params index
        geometry["num_centroids"] = len(_load_ivf_centroids(spark, path))
    members = (
        spark.read.schema(_IVF_CELLS_DDL).parquet(f"{path}/cells")
        .select("id", "v")
        .localCheckpoint(eager=True)
    )
    build_ivf_index(members, path, vec_col="v", id_col="id", **geometry)


def retrain_lsh_index(
    spark,
    path: str,
    num_planes: int | None = None,
    num_tables: int | None = None,
    dim: int | None = None,
) -> None:
    """Rebuild a persisted LSH index over its CURRENT vectors — the LSH
    maintenance pass: planes are data-independent, so the only repair
    is a new plane budget (`auto_maintain` passes a larger
    ``num_planes`` when buckets overload).  Geometry defaults to the
    index's own `{path}/params`; explicit args override."""
    geometry = _read_params(
        spark, path, num_planes=num_planes, num_tables=num_tables, dim=dim
    )
    members = (
        spark.read.schema(_LSH_VECTORS_DDL).parquet(f"{path}/vectors")
        .select("id", "vec")
        .localCheckpoint(eager=True)
    )
    build_lsh_index(members, path, vec_col="vec", id_col="id", **geometry)


def _lsh_bucketize(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_planes: int,
    num_tables: int,
    dim: int,
) -> DataFrame:
    """(id, table_idx, bucket) rows from the fixed-seed hyperplane family
    shared with `lsh_ann_topk` — one Arrow-batched matmul per batch."""
    import numpy as np

    rs = np.random.RandomState(42)
    planes = rs.standard_normal((num_tables, num_planes, dim))
    spark = df.sparkSession
    b_planes = spark.sparkContext.broadcast(planes.reshape(num_tables * num_planes, dim))
    n_tables, n_planes = num_tables, num_planes
    vc, ic = vec_col, id_col

    def bucketize(it):
        import numpy as np
        import pandas as pd

        P = b_planes.value
        pow2 = 1 << np.arange(n_planes)
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.array(pdf[vc].tolist(), dtype=np.float64)
            proj = mat @ P.T
            bits = (proj >= 0).reshape(len(pdf), n_tables, n_planes)
            buckets = (bits * pow2).sum(axis=2).astype(np.int32)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf[ic].to_numpy(np.int64), n_tables),
                    "table_idx": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "bucket": buckets.ravel(),
                }
            )

    return _spread(df.select(ic, vc)).mapInPandas(
        bucketize, "id long, table_idx int, bucket int"
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_centroids: int = 16,
    threshold: float = 0.85,
    train_sample: int = 10_000,
    iters: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the bounded-sample
    spherical k-means quantizer, then drop any document that has a
    SMALLER-id neighbor with cosine ≥ `threshold` in ANY of its
    `nprobe` nearest cells (min-id representative, fully deterministic).

    Returns (id, keep) for every input row.

    Scale shape: the k-means train is the one bounded driver collect
    (shared with ivf_topk); assignment is one Arrow pass; the pairwise
    check runs per-cell in cogrouped Arrow tasks over ~n·nprobe/k
    vectors each — O(n²·nprobe²/k) total compute instead of O(n²), and
    no cell ever leaves its task.  A doc's final keep folds over its
    probed cells with one tiny keyed agg.  `nprobe>1` catches near-dup
    pairs that straddle a cell boundary (measured drop-recall vs exact
    all-pairs ground truth at 16 cells: 0.29-0.43 at nprobe=1,
    0.65-0.69 at 2, 0.95-0.98 at 4; dropped ⊆ droppable at every
    setting).  At 100 TB raise `num_centroids` so cells stay
    ~10⁴-10⁵ vectors; pathological mega-clusters should be re-split by
    running the same operator recursively on the offending cell.
    """
    import numpy as np
    import pandas as pd

    C = _train_spherical_kmeans(df, vec_col, id_col, num_centroids, train_sample, iters)
    spark = df.sparkSession
    b_C = spark.sparkContext.broadcast(C)
    probe_n = min(nprobe, len(C))

    def dedup_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["id"].to_numpy(np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
        norms = np.maximum(np.linalg.norm(mat, axis=1), 1e-12)
        sims = (mat @ mat.T) / norms[:, None] / norms[None, :]
        # drop i iff some j<i (id order) has cos(i,j) >= threshold
        tri = np.tril(sims >= threshold, k=-1)
        dropped = tri.any(axis=1)
        return pd.DataFrame({"id": ids, "keep": ~dropped})

    def assign_probes(it):
        import numpy as np
        import pandas as pd

        cents = b_C.value
        for pdf in it:
            if not len(pdf):
                continue
            v = np.array(pdf["v"].tolist(), dtype=np.float64)
            vn = v / np.maximum(np.linalg.norm(v, axis=1), 1e-12)[:, None]
            top = np.argsort(-(vn @ cents.T), axis=1, kind="stable")[:, :probe_n]
            m = len(pdf)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(np.int64), probe_n),
                    "v": np.repeat(pdf["v"].to_numpy(), probe_n),
                    "cell": top.ravel().astype("int32"),
                }
            )

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    assigned = base.mapInPandas(assign_probes, "id long, v array<double>, cell int")
    per_cell = assigned.groupBy("cell").applyInPandas(dedup_cell, "id long, keep boolean")
    # dropped in ANY probed cell => dropped; bool min == logical AND
    return per_cell.groupBy("id").agg(F.min("keep").alias("keep"))


def lsh_ann_topk(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 4,
    num_tables: int = 12,
    dim: int = 64,
    score: str = "bucket",
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    Deterministic hyperplanes: a fixed-seed `np.random.RandomState`
    (MT19937 — bit-stable across numpy versions) draws independent
    Gaussian planes per (table, plane).  Sign pattern of the `num_planes`
    projections forms the bucket key per table; exact cosine re-rank runs
    within buckets only.  Independence across tables is what makes
    recall compound: ~0.7 recall@5 at (3 planes, 8 tables) on the test
    corpus vs ~0.2 for correlated sinusoidal planes.

    SIZE `num_planes` TO THE CORPUS: a table has 2^num_planes buckets,
    so expected bucket size is n/2^p and candidate volume is
    ~n²·12/2^p — with planes FIXED, candidates grow quadratically no
    matter how the data is distributed (measured: 16× corpus → 257×
    candidate slots at p=4).  Keep per-bucket size roughly constant by
    setting p ≈ log2(n / target_bucket_size) (e.g. p=16 for 10⁸ vectors
    at ~1.5k/bucket), and raise `num_tables` to recover recall as the
    per-table collision probability drops.

    Execution shape (measured 28.8s -> ~6s at sf0.1): all
    num_tables*num_planes projections per vector are one Arrow-batched
    numpy matmul (not interpreted per-element HOF folds); the self-join
    and pair-dedup carry BARE (id, neighbor) longs — vectors never ride
    the candidate shuffle.  Scoring paths, all value-identical:
    'bucket' (DEFAULT — the 100 TB path): vectors shuffle once per
    table replication and every (table, bucket) group matmuls locally,
    emitting bare scored pairs — no driver collect, no per-pair vector
    shuffle (measured 153.9s→26.6s at 32k vectors vs 'join');
    'join': candidate pairs re-join vectors by key (collect-free but
    ships both vectors per pair); 'broadcast' (opt-in): driver-collected
    id-sorted matrix, valid to ~10M×64d.
    """
    if score == "bucket":
        scored = _lsh_bucket_scored(df, vec_col, id_col, num_planes, num_tables, dim)
    else:
        bucketed = _lsh_bucketize(df, vec_col, id_col, num_planes, num_tables, dim)
        a, b = bucketed.alias("a"), bucketed.alias("b")
        cand = (
            a.join(b, ["table_idx", "bucket"])
            .filter(F.col("a.id") != F.col("b.id"))
            .select(F.col("a.id").alias("id"), F.col("b.id").alias("neighbor_id"))
            .dropDuplicates(["id", "neighbor_id"])
        )
        scored = _score_candidates(df, cand, vec_col, id_col, score)
    return _rank_topk(scored, k)


def _lsh_bucket_scored(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_planes: int,
    num_tables: int,
    dim: int,
) -> DataFrame:
    """Bucket-local exact scoring: vectors ride the shuffle ONCE per
    (table) replication — n·num_tables vector rows — and each
    (table, bucket) group matmuls its members locally, emitting only
    bare (id, neighbor_id, cos) pairs.  Versus the candidate-pair
    re-join ('join' scorer) this removes the per-PAIR vector shuffle
    (~40× less shuffled bytes when candidates/query ≈ 10³), which the
    scale probe showed dominating at 32k vectors.  A pair co-bucketed by
    several tables is scored once per table; the duplicates collapse via
    MIN(cos) — a deterministic pick even if BLAS gemm accumulation order
    diverges by an ulp across group shapes at a 6-dp rounding boundary
    (dropDuplicates kept an arbitrary copy, which could break the
    x_lsh_index_roundtrip equality contract).
    """
    import numpy as np
    import pandas as pd

    rs = np.random.RandomState(42)
    planes = rs.standard_normal((num_tables, num_planes, dim))
    spark = df.sparkSession
    b_planes = spark.sparkContext.broadcast(planes.reshape(num_tables * num_planes, dim))
    n_tables, n_planes = num_tables, num_planes
    vc, ic = vec_col, id_col

    def bucketize_v(it):
        import numpy as np
        import pandas as pd

        P = b_planes.value
        pow2 = 1 << np.arange(n_planes)
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.array(pdf[vc].tolist(), dtype=np.float64)
            proj = mat @ P.T
            bits = (proj >= 0).reshape(len(pdf), n_tables, n_planes)
            buckets = (bits * pow2).sum(axis=2).astype(np.int32)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf[ic].to_numpy(np.int64), n_tables),
                    "v": np.repeat(pdf[vc].to_numpy(), n_tables),
                    "table_idx": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "bucket": buckets.ravel(),
                }
            )

    bucketed = _spread(df.select(ic, vc)).mapInPandas(
        bucketize_v, "id long, v array<double>, table_idx int, bucket int"
    )

    def score_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id": [], "neighbor_id": [], "cos": []})
        ids = pdf["id"].to_numpy(np.int64)
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.maximum(np.linalg.norm(mat, axis=1), 1e-12)
        sims = (mat @ mat.T) / norms[:, None] / norms[None, :]
        # HALF_UP like F.round (np.round is banker's)
        sims = np.floor(sims * 1e6 + 0.5) / 1e6
        qi, ci = np.nonzero(~np.eye(m, dtype=bool))
        return pd.DataFrame(
            {"id": ids[qi], "neighbor_id": ids[ci], "cos": sims[qi, ci]}
        )

    return (
        bucketed.groupBy("table_idx", "bucket")
        .applyInPandas(score_bucket, "id long, neighbor_id long, cos double")
        .groupBy("id", "neighbor_id")
        .agg(F.min("cos").alias("cos"))
    )


def kmeans_cluster(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_sample: int = 10_000,
    iters: int = 8,
) -> DataFrame:
    """First-class k-means clustering over an embedding column:
    (id, cluster_id, cos) — each vector assigned to its nearest
    spherical-k-means centroid, with the cosine to that centroid
    (6-dp HALF_UP, the repo float convention).

    This is the coarse quantizer the IVF/SemDeDup family already uses,
    exposed as the standalone clustering operator (corpus segmentation,
    topic bucketing, stratified-eval construction).  Same scale shape:
    bounded deterministic driver-side train (TakeOrdered sample — the
    documented collect exception), broadcast k×d centroid matrix, ONE
    Arrow assignment pass over the corpus; assignments are
    partitioning-invariant because both the trainer sample and the
    argmax are (pinned by test_kmeans_partitioning_invariance).
    """
    import numpy as np

    C = _train_spherical_kmeans(df, vec_col, id_col, k, train_sample, iters)
    spark = df.sparkSession
    b_C = spark.sparkContext.broadcast(C)

    def gen(it):
        import numpy as _np
        import pandas as _pd

        cents = b_C.value
        for pdf in it:
            if not len(pdf):
                continue
            v = _np.array(list(pdf["v"]), dtype=_np.float64)
            vn = v / _np.maximum(_np.linalg.norm(v, axis=1), 1e-12)[:, None]
            sims = vn @ cents.T
            best = sims.argmax(axis=1)
            cos = sims[_np.arange(len(vn)), best]
            cos = _np.floor(cos * 1e6 + 0.5) / 1e6  # HALF_UP like F.round
            yield _pd.DataFrame(
                {
                    "id": pdf["id"],
                    "cluster_id": best.astype("int32"),
                    "cos": cos,
                }
            )

    out_id_type = dict(df.dtypes)[id_col]
    base = _spread(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
    return base.mapInPandas(
        gen, f"id {out_id_type}, cluster_id int, cos double"
    ).select(F.col("id").alias(id_col), "cluster_id", "cos")


def mmr_diversify(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
    with_diversity: bool = False,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedily pick `k` of each query's candidates maximizing
    ``lam·relevance − (1−lam)·max cosine to the already-selected set`` —
    the standard diversification pass between retrieval and a context
    window (near-duplicate passages crowd out coverage).

    Input: per-query candidate rows (query_col, id_col, rel_col,
    vec_col).  Returns (query_col, id_col, mmr_rank, rel) — `k` rows per
    query in selection order.  Ties break on id for determinism.  With
    ``with_diversity=True`` a ``sel_avg_cos`` column is appended: the
    mean pairwise cosine among the selected set (constant per query,
    NaN when fewer than 2 picks), computed from the S matrix the greedy
    loop already holds — callers measuring diversity (x_mmr's contract)
    need no join back to the embeddings table.

    Scale: one `applyInPandas` per QUERY GROUP — the greedy loop and the
    O(c²) pairwise-cosine matrix live on a candidate list that is
    top-c-bounded (c ≈ 20-100) regardless of corpus size; the corpus
    itself was already reduced by the upstream retrieval leg.  The
    iterative argmax is not SQL-expressible, so the catalog query wraps
    this in a diversity contract instead of a value oracle.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")

    def pick(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = np.maximum(np.linalg.norm(V, axis=1), 1e-12)
        S = (V / nrm[:, None]) @ (V / nrm[:, None]).T
        rel = pdf["r"].to_numpy().astype(np.float64)
        n = len(pdf)
        chosen: list[int] = []
        avail = list(range(n))
        while avail and len(chosen) < k:
            if chosen:
                penal = S[np.ix_(avail, chosen)].max(axis=1)
            else:
                penal = np.zeros(len(avail))
            score = lam * rel[avail] - (1.0 - lam) * penal
            j = int(np.argmax(score))  # first max = lowest doc_id (sorted)
            chosen.append(avail.pop(j))
        out = {
            "query_id": pdf["q"].iloc[chosen].to_numpy(),
            "doc_id": pdf["doc_id"].iloc[chosen].to_numpy(),
            "mmr_rank": np.arange(1, len(chosen) + 1, dtype=np.int64),
            "rel": rel[chosen],
        }
        if with_diversity:
            if len(chosen) >= 2:
                sub = S[np.ix_(chosen, chosen)]
                iu = np.triu_indices(len(chosen), 1)
                avg = float(sub[iu].mean())
            else:
                avg = float("nan")
            out["sel_avg_cos"] = np.full(len(chosen), avg)
        return pd.DataFrame(out)

    base = candidates.select(
        F.col(query_col).alias("q"),
        F.col(id_col).alias("doc_id"),
        F.col(rel_col).cast("double").alias("r"),
        F.col(vec_col).alias("v"),
    )
    # output schema follows the INPUT id/query types (string doc ids are
    # a normal retrieval id space — hardcoding long would Arrow-error)
    dtypes = dict(base.dtypes)
    out_schema = (
        f"query_id {dtypes['q']}, doc_id {dtypes['doc_id']}, "
        "mmr_rank long, rel double"
    )
    out_cols = [
        F.col("query_id").alias(query_col),
        F.col("doc_id").alias(id_col),
        F.col("mmr_rank"),
        F.col("rel"),
    ]
    if with_diversity:
        out_schema += ", sel_avg_cos double"
        out_cols.append(F.col("sel_avg_cos"))
    return base.groupBy("q").applyInPandas(pick, out_schema).select(*out_cols)
