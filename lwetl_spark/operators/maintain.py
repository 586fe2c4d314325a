"""The persisted ANN index families and their auto-maintenance policy
(VERDICT r6 #5).

`INDEX_FAMILIES` is the one table of the four families (IVF, PQ, LSH,
IVFADC): each kind's layout markers and tables, its build, update,
remove, query, stats and retrain functions, the build and probe
keywords it takes, and its drift signals.  `detect_index_kind`,
`auto_maintain`, `incremental.ingest_increment` and
`retrieval.hybrid_topk` each look a kind up here once; `index_family`
raises the one error for an unknown kind.

Every index family freezes its quantizer geometry at build time so that
incremental appends stay exactly-equal to a rebuild (the lifecycle
equivalence contracts) — which means DRIFT accumulates until a
maintenance pass repays it.  The stats operators measure the drift;
this module DECIDES and EXECUTES:

    auto_maintain(spark, path)  →  one decision row, action applied

Signals and documented thresholds (the SCALE.md policy table):

- **IVF** — `imbalance_pm` = 1000·max_cell·n_cells/n_vectors from
  `ivf_index_stats`.  A drifting delta distribution piles into few
  cells; probe cost is bounded by the largest probed cell, so
  imbalance IS the probe-latency regression.  Default trigger ≥ 3000
  (hottest cell 3× the mean) → `retrain_ivf_index`.
- **PQ** — `growth_pm` = 1000·n_codes/n_at_train (params record the
  training corpus size).  Codebooks quantize a distribution sampled at
  build time; once the corpus has grown past ~4× the training view,
  re-training is the standard repayment.  Default trigger ≥ 4000 →
  `retrain_pq_index`.
- **IVFADC** — BOTH signals (cells drift like IVF, codebooks age like
  PQ); either crossing its threshold triggers `retrain_ivfpq_index`.
- **LSH** — `overload_pm` = 1000·max_bucket/(n_vectors/2^num_planes):
  the hottest bucket vs the uniform expectation.  Planes are
  data-independent, so overload means the plane BUDGET no longer fits
  the corpus (candidate volume grows ~n²/2^p with p fixed — the
  SCALE.md sizing rule).  Default trigger ≥ 8000 (hottest bucket 8×
  expected) → `retrain_lsh_index` with num_planes = max(current,
  ⌈log2(n/target_bucket)⌉), num_tables/dim preserved.

Every decision is exact integer arithmetic over bounded stats rows —
no data scan happens unless the action fires, and the fired action is
the family's own retrain/rebuild pass (whose == rebuild behavior the
lifecycle tests pin).  Text indexes are deliberately NOT handled here:
their compaction trigger is the campaign's deferred-change backlog
(state the index itself cannot see — `ingest_increment` owns that
schedule), and df saturation wants a stop-list decision, not a
mechanical rewrite.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

from lwetl_spark.operators import ivfpq
from lwetl_spark.operators import similarity as sim
from lwetl_spark.operators._fsutil import path_exists


def _no_resize(st, p, target_bucket: int) -> dict:
    return {}


def _lsh_resize(st, p, target_bucket: int) -> dict:
    """The LSH repayment: num_planes = max(current,
    ⌈log2(n/target_bucket)⌉), num_tables/dim preserved."""
    need = math.ceil(math.log2(max(int(st["n_vectors"]) / target_bucket, 2)))
    return {**p, "num_planes": max(int(p["num_planes"]), need)}


@dataclass(frozen=True)
class IndexFamily:
    """One persisted ANN family.  Every family shares the calling
    conventions build(df, path, vec_col=, id_col=, **geometry),
    update(spark, path, delta, vec_col=, id_col=), remove(spark, path,
    ids), query(spark, path, queries, k=, filter_ids=, **probe),
    stats(spark, path) and retrain(spark, path, **geometry)."""

    #: layout tables whose presence identifies the family; the first
    #: marks a bootstrapped index
    markers: tuple[str, ...]
    #: every table the family writes under its path
    tables: tuple[str, ...]
    build: Callable
    update: Callable
    remove: Callable
    query: Callable
    stats: Callable
    retrain: Callable
    #: build keywords beyond the column names (`ingest_increment`)
    build_keys: tuple[str, ...] = ()
    #: probe keywords beyond k and filter_ids (`hybrid_topk`)
    probe_keys: tuple[str, ...] = ()
    #: `auto_maintain`'s drift signals, the reported one first on a tie
    signals: tuple[str, ...] = ()
    #: the retrain geometry a fired signal asks for (stats row, params,
    #: lsh_target_bucket) → keywords
    resize: Callable = _no_resize

    def build_kwargs(self, **kw) -> dict:
        return {k: v for k, v in kw.items() if k in self.build_keys}

    def probe_kwargs(self, **kw) -> dict:
        return {k: v for k, v in kw.items() if k in self.probe_keys}


#: kind → family, in detection order: a family whose markers include
#: another's comes first (IVFADC holds IVF's centroids and PQ's
#: codebooks; IVF and PQ indexes also hold params)
INDEX_FAMILIES = {
    "ivfpq": IndexFamily(
        markers=("centroids", "codebooks"),
        tables=("centroids", "codebooks", "rotation", "params", "codes", "vectors"),
        build=ivfpq.build_ivfpq_index, update=ivfpq.update_ivfpq_index,
        remove=ivfpq.remove_from_ivfpq_index, query=ivfpq.query_ivfpq_index,
        stats=ivfpq.ivfpq_index_stats, retrain=ivfpq.retrain_ivfpq_index,
        build_keys=("num_centroids",), probe_keys=("nprobe", "rerank"),
        signals=("growth_pm", "imbalance_pm"),
    ),
    "ivf": IndexFamily(
        markers=("centroids",),
        tables=("centroids", "params", "cells"),
        build=sim.build_ivf_index, update=sim.update_ivf_index,
        remove=sim.remove_from_ivf_index, query=sim.query_ivf_index,
        stats=sim.ivf_index_stats, retrain=sim.retrain_ivf_index,
        build_keys=("num_centroids",), probe_keys=("nprobe",),
        signals=("imbalance_pm",),
    ),
    "pq": IndexFamily(
        markers=("codebooks",),
        tables=("codebooks", "params", "codes", "vectors"),
        build=sim.build_pq_index, update=sim.update_pq_index,
        remove=sim.remove_from_pq_index, query=sim.query_pq_index,
        stats=sim.pq_index_stats, retrain=sim.retrain_pq_index,
        probe_keys=("rerank",),
        signals=("growth_pm",),
    ),
    "lsh": IndexFamily(
        markers=("params", "buckets"),
        tables=("params", "buckets", "vectors"),
        build=sim.build_lsh_index, update=sim.update_lsh_index,
        remove=sim.remove_from_lsh_index, query=sim.query_lsh_index,
        stats=sim.lsh_index_stats, retrain=sim.retrain_lsh_index,
        signals=("overload_pm",), resize=_lsh_resize,
    ),
}


def index_family(kind: str) -> IndexFamily:
    """The family of ``kind``; the one error for an unknown kind."""
    try:
        return INDEX_FAMILIES[kind]
    except KeyError:
        raise ValueError(
            f"unknown ANN index kind {kind!r} ({'|'.join(INDEX_FAMILIES)})"
        ) from None


def detect_index_kind(spark, path: str) -> str:
    """Classify a persisted index directory by its layout markers, in
    `INDEX_FAMILIES` order: centroids+codebooks → ivfpq, centroids →
    ivf, codebooks → pq, params+buckets → lsh.  Each marker is probed at
    most once.  Raises on anything else."""
    seen: dict[str, bool] = {}

    def has(table: str) -> bool:
        if table not in seen:
            seen[table] = path_exists(spark, f"{path}/{table}")
        return seen[table]

    for kind, fam in INDEX_FAMILIES.items():
        if all(has(t) for t in fam.markers):
            return kind
    raise ValueError(f"no persisted ANN index layout recognized at {path}")


#: drift signal → its per-mille value from the family's stats row ``st``
#: and params ``p``; None when the index records no baseline for it
_SIGNALS = {
    "imbalance_pm": lambda st, p: int(st["imbalance_pm"] or 0),
    "growth_pm": lambda st, p: (
        1000 * int(st["n_codes"]) // int(p["n_at_train"])
        if p.get("n_at_train") else None  # pre-upgrade index: no baseline
    ),
    "overload_pm": lambda st, p: (
        1000 * int(st["max_bucket"] or 0)
        // max(int(st["n_vectors"]) >> int(p["num_planes"]), 1)
    ),
}


def auto_maintain(
    spark,
    path: str,
    kind: str | None = None,
    imbalance_threshold_pm: int = 3000,
    growth_threshold_pm: int = 4000,
    lsh_overload_threshold_pm: int = 8000,
    lsh_target_bucket: int = 1024,
    dry_run: bool = False,
) -> DataFrame:
    """Read the index's drift stats, decide noop/retrain against the
    documented thresholds, EXECUTE the chosen pass, and return one
    decision row:

        (kind, action, metric, metric_pm, threshold_pm)

    ``metric`` names the triggering (or dominant) signal; ``metric_pm``
    its exact per-mille value; ``action`` is what actually ran
    ('noop' | 'retrain').  ``dry_run=True`` decides without executing
    (capacity planning).  All reads before the action are bounded
    stats/params rows."""
    kind = kind or detect_index_kind(spark, path)
    fam = index_family(kind)
    st = fam.stats(spark, path).collect()[0]
    p = sim._read_params(spark, path, fallback={})
    thr = {
        "imbalance_pm": imbalance_threshold_pm,
        "growth_pm": growth_threshold_pm,
        "overload_pm": lsh_overload_threshold_pm,
    }
    val = {s: _SIGNALS[s](st, p) for s in fam.signals}
    # any signal fires; report the one furthest past its threshold
    # (value/threshold compared exactly, by cross-multiplying)
    metric = max(
        fam.signals,
        key=lambda s: (val[s] or 0)
        * math.prod(thr[o] for o in fam.signals if o != s),
    )
    fire = any(val[s] is not None and val[s] >= thr[s] for s in fam.signals)
    if fire and not dry_run:
        fam.retrain(spark, path, **fam.resize(st, p, lsh_target_bucket))
    return spark.createDataFrame(
        [(
            kind, "retrain" if fire else "noop", metric,
            int(val[metric] or 0), int(thr[metric]),
        )],
        "kind string, action string, metric string,"
        " metric_pm long, threshold_pm long",
    )
