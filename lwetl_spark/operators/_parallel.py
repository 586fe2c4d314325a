"""Scan-parallelism floor for interpreter-bound Arrow passes.

r11 optimization (guide §2.5's input-skew rule): the sf-dir tables are
single parquet splits, so any mapInPandas/applyInPandas chain that runs
BEFORE the first exchange inherits one partition and serializes its
whole Python-side compute on a single core (measured: the TIFF
generate+decode chain spent 6.4 s wall on ~14 CPU-s of codec work on
local[32]; the IVF build's assignment pass ran as one 0.9 s task).

`spread` round-robins such a frame across the session's parallelism
when — and only when — it has fewer partitions.  At real scale the
corpus scan has thousands of splits and this no-ops, so no extra
exchange ever appears in a 100 TB plan; the repartition is
deterministic (Spark sorts before round-robin partitioning,
``spark.sql.execution.sortBeforeRepartition``), and every caller's
per-row work is a pure function of the row, so results are
partitioning-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def overlap_all(*legs):
    """Run INDEPENDENT maintenance legs as concurrent Spark job groups
    (guide §2.6: actions are only sequential because driver code calls
    them sequentially; FIFO scheduling back-fills executors freed by
    one leg's stragglers with another leg's tasks).

    All but the last leg run on helper threads, the last on the
    caller's thread; every leg is joined before this returns the last
    leg's value.  A single leg runs inline; no legs return None.
    Callers must guarantee independence: the legs read only frames that
    are already checkpoint-materialized (or tables no leg writes) and
    write disjoint paths, so execution order cannot change any result.
    The first helper-leg exception propagates unless the caller's leg
    also raised (then the caller's wins, as in sequential execution).
    Helper legs run with a copy of the caller's Spark local properties,
    as ``pyspark.InheritableThread`` starts them: job group,
    description, scheduler pool and job tags, so ``cancelJobGroup``
    reaches every leg.
    """
    if len(legs) <= 1:
        return legs[0]() if legs else None
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context  # None under Spark Connect

    def inherit(leg):
        if sc is None:
            return leg
        props = sc._jsc.sc().getLocalProperties().clone()

        def run():
            sc._jsc.sc().setLocalProperties(props)
            return leg()

        return run

    with ThreadPoolExecutor(max_workers=len(legs) - 1) as pool:
        futs = [pool.submit(inherit(leg)) for leg in legs[:-1]]
        try:
            out = legs[-1]()
        except BaseException:
            for f in futs:
                f.exception()  # join; the caller leg's exception wins
            raise
        for f in futs:
            exc = f.exception()
            if exc is not None:
                raise exc
        return out


def spread(df: DataFrame) -> DataFrame:
    """Round-robin `df` across the session's default parallelism when
    it has fewer partitions; identity otherwise."""
    spark = df.sparkSession
    try:
        target = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext on the session
        target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    try:
        have = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect: no RDD surface, so the partition count is
        # unknowable.  Default to IDENTITY (r12, VERDICT r11 #8 /
        # ADVICE): on a Connect cluster at real scale the input has
        # thousands of splits and spreading unconditionally would
        # re-introduce the full-payload exchange this helper exists
        # to avoid (e.g. the array<double> corpus in the ANN builds).
        return df
    return df if have >= target else df.repartition(target)
