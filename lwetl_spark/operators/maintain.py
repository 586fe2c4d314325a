"""Auto-maintenance policy for persisted ANN indexes (VERDICT r6 #5).

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
  expected) → rebuild with num_planes = max(current,
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

from pyspark.sql import DataFrame

from lwetl_spark.operators._fsutil import read_parquet
from lwetl_spark.operators.incremental import _path_exists


def detect_index_kind(spark, path: str) -> str:
    """Classify a persisted index directory by its layout markers:
    centroids+codebooks → ivfpq, centroids → ivf, codebooks → pq,
    buckets+params → lsh.  Raises on anything else."""
    has_cent = _path_exists(spark, f"{path}/centroids")
    has_books = _path_exists(spark, f"{path}/codebooks")
    if has_cent and has_books:
        return "ivfpq"
    if has_cent:
        return "ivf"
    if has_books:
        return "pq"
    if _path_exists(spark, f"{path}/buckets") and _path_exists(
        spark, f"{path}/params"
    ):
        return "lsh"
    raise ValueError(f"no persisted ANN index layout recognized at {path}")


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
    if kind == "ivf":
        from lwetl_spark.operators.similarity import (
            ivf_index_stats, retrain_ivf_index,
        )

        st = ivf_index_stats(spark, path).collect()[0]
        metric, metric_pm, thr = (
            "imbalance_pm", int(st["imbalance_pm"] or 0), imbalance_threshold_pm,
        )
        fire = metric_pm >= thr

        def act():
            retrain_ivf_index(spark, path)

    elif kind == "pq":
        from lwetl_spark.operators.similarity import (
            pq_index_stats, retrain_pq_index,
        )

        st = pq_index_stats(spark, path).collect()[0]
        p = read_parquet(spark, f"{path}/params").collect()[0]
        n_at_train = (
            int(p["n_at_train"]) if "n_at_train" in p.asDict() else 0
        )  # pre-upgrade index: no growth baseline → never fires on growth
        metric = "growth_pm"
        metric_pm = (
            1000 * int(st["n_codes"]) // n_at_train if n_at_train else 0
        )
        thr = growth_threshold_pm
        fire = metric_pm >= thr if n_at_train else False

        def act():
            retrain_pq_index(spark, path)

    elif kind == "ivfpq":
        from lwetl_spark.operators.ivfpq import (
            ivfpq_index_stats, retrain_ivfpq_index,
        )

        st = ivfpq_index_stats(spark, path).collect()[0]
        imb = int(st["imbalance_pm"] or 0)
        gro = int(st["growth_pm"] or 0)
        # either signal fires; report the one further past its threshold
        if gro * imbalance_threshold_pm >= imb * growth_threshold_pm:
            metric, metric_pm, thr = "growth_pm", gro, growth_threshold_pm
        else:
            metric, metric_pm, thr = "imbalance_pm", imb, imbalance_threshold_pm
        fire = imb >= imbalance_threshold_pm or gro >= growth_threshold_pm

        def act():
            retrain_ivfpq_index(spark, path)

    elif kind == "lsh":
        import math

        from pyspark.sql import functions as F

        from lwetl_spark.operators.similarity import (
            build_lsh_index, lsh_index_stats,
        )

        st = lsh_index_stats(spark, path).collect()[0]
        p = read_parquet(spark, f"{path}/params").collect()[0]
        n_vec = int(st["n_vectors"])
        expected = max(n_vec // (1 << int(p["num_planes"])), 1)
        metric = "overload_pm"
        metric_pm = 1000 * int(st["max_bucket"] or 0) // expected
        thr = lsh_overload_threshold_pm
        fire = metric_pm >= thr

        def act():
            new_planes = max(
                int(p["num_planes"]),
                int(math.ceil(math.log2(max(n_vec / lsh_target_bucket, 2)))),
            )
            members = (
                read_parquet(spark, f"{path}/vectors")
                .select("id", "vec")
                .localCheckpoint(eager=True)
            )
            build_lsh_index(
                members, path, vec_col="vec", id_col="id",
                num_planes=new_planes,
                num_tables=int(p["num_tables"]), dim=int(p["dim"]),
            )

    else:
        raise ValueError(f"unknown index kind {kind!r} (ivf|pq|lsh|ivfpq)")

    action = "retrain" if fire else "noop"
    if fire and not dry_run:
        act()
    return spark.createDataFrame(
        [(kind, action, metric, int(metric_pm), int(thr))],
        "kind string, action string, metric string,"
        " metric_pm long, threshold_pm long",
    )
