"""r12 optimization pins: spread()'s Connect fallback is IDENTITY.

VERDICT r11 #8 / ADVICE: under Spark Connect the session exposes no
.rdd surface, so the input partition count is unknowable.  The old
fallback assumed have=1 and spread unconditionally — on a Connect
cluster at real scale that re-introduces the full-payload exchange the
helper exists to avoid.  The fallback must return the frame untouched.
"""


class _NoRddFrame:
    """Stands in for a Connect DataFrame: sparkSession works, .rdd raises."""

    def __init__(self, spark):
        self.sparkSession = spark
        self.repartitioned = False

    @property
    def rdd(self):
        raise Exception("Spark Connect: rdd is not supported")

    def repartition(self, n):  # pragma: no cover - must not be reached
        self.repartitioned = True
        return self


def test_spread_connect_fallback_is_identity(spark):
    from lwetl_spark.operators._parallel import spread

    fake = _NoRddFrame(spark)
    out = spread(fake)
    assert out is fake
    assert not fake.repartitioned


def test_spread_classic_behavior_unchanged(spark):
    """The classic-session path still widens narrow frames and leaves
    wide frames untouched (same contract as r11's pin)."""
    from lwetl_spark.operators._parallel import spread

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() == max(target, 1)
    already = spark.range(100).repartition(target + 4)
    assert spread(already) is already


def test_cluster_for_write_salt_widens_write_parallelism(spark):
    """r12 (ADVICE r11): cluster_for_write with salt_col/salt_per_value
    clusters by (part_col, hash(salt) % n) — many write tasks per
    partition value instead of one — while a narrow input still skips
    the exchange, and rows are unchanged either way."""
    from pyspark.sql import functions as F

    from lwetl_spark.operators._partwrite import cluster_for_write

    wide = (
        spark.range(2000)
        .withColumn("t", F.pmod(F.col("id"), F.lit(2)).cast("int"))
        .repartition(16)
    )
    out = cluster_for_write(wide, "t", salt_col="id", salt_per_value=8)
    # mechanism pin via the plan (AQE coalesces the tiny test shuffle
    # by bytes, so a partition census here is flaky): the repartition
    # must key on BOTH the partition column and the salt expression
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "RepartitionByExpression" in plan
    assert "pmod" in plan and "xxhash64" in plan
    assert sorted(r["id"] for r in out.collect()) == list(range(2000))

    narrow = wide.coalesce(2)
    assert cluster_for_write(narrow, "t", salt_col="id", salt_per_value=8) is narrow


def test_lsh_buckets_write_salted_and_prunable(spark, tmp_path):
    """build_lsh_index's buckets table keeps one directory per
    table_idx (probe pruning intact) after the r12 salted clustering,
    and a rebuild's bucket contents are unchanged."""
    import os

    from pyspark.sql import functions as F

    from lwetl_spark.operators.similarity import build_lsh_index

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), j -> "
            "cast(pmod(xxhash64(id * 64 + j), 97) - 48 as double) / 7.0)"
        ).alias("embedding"),
    )
    path = str(tmp_path / "lshidx")
    build_lsh_index(emb, path, num_tables=4, num_planes=3)
    dirs = sorted(
        d for d in os.listdir(f"{path}/buckets") if d.startswith("table_idx=")
    )
    assert dirs == [f"table_idx={i}" for i in range(4)]
    got = (
        spark.read.parquet(f"{path}/buckets")
        .groupBy("table_idx", "bucket").count()
        .orderBy("table_idx", "bucket")
        .collect()
    )
    assert sum(r["count"] for r in got) == 200 * 4


# --- r12: overlap_all (guide §2.6 maintenance-leg overlap) -------------


def test_overlap_all_runs_both_and_returns_caller_leg():
    import threading

    from lwetl_spark.operators import _parallel

    ran = {"bg": None, "fg": None}

    def bg():
        ran["bg"] = threading.current_thread().name

    def fg():
        ran["fg"] = threading.current_thread().name
        return 41

    assert _parallel.overlap_all(bg, fg) == 41
    assert ran["bg"] is not None and ran["fg"] is not None
    # the background leg really left the caller's thread
    assert ran["bg"] != ran["fg"]


def test_overlap_all_background_exception_propagates():
    import pytest as _pytest

    from lwetl_spark.operators import _parallel

    def bg():
        raise RuntimeError("bg boom")

    with _pytest.raises(RuntimeError, match="bg boom"):
        _parallel.overlap_all(bg, lambda: 1)


def test_overlap_all_caller_exception_wins_and_joins_background():
    import time

    import pytest as _pytest

    from lwetl_spark.operators import _parallel

    done = {"bg": False}

    def bg():
        time.sleep(0.2)
        done["bg"] = True
        raise RuntimeError("bg late boom")

    def fg():
        raise ValueError("fg boom")

    with _pytest.raises(ValueError, match="fg boom"):
        _parallel.overlap_all(bg, fg)
    assert done["bg"]  # the background leg was joined, not abandoned


def test_overlap_all_runs_every_leg_and_joins():
    import threading

    from lwetl_spark.operators import _parallel

    names = []
    lock = threading.Lock()

    def mk(i):
        def leg():
            with lock:
                names.append((i, threading.current_thread().name))
        return leg

    _parallel.overlap_all(mk(0), mk(1), mk(2), mk(3))
    assert sorted(i for i, _ in names) == [0, 1, 2, 3]
    # the last leg ran on the caller's thread, the others elsewhere
    caller = threading.current_thread().name
    by_leg = dict(names)
    assert by_leg[3] == caller
    assert all(by_leg[i] != caller for i in (0, 1, 2))


def test_overlap_all_single_leg_runs_inline():
    import threading

    from lwetl_spark.operators import _parallel

    ran = []
    _parallel.overlap_all(lambda: ran.append(threading.current_thread()))
    assert ran == [threading.current_thread()]  # no helper thread
    _parallel.overlap_all()  # no legs: nothing to run


def test_overlap_all_first_helper_exception_propagates():
    import pytest as _pytest

    from lwetl_spark.operators import _parallel

    def boom():
        raise RuntimeError("leg boom")

    with _pytest.raises(RuntimeError, match="leg boom"):
        _parallel.overlap_all(boom, lambda: None, lambda: None)


def test_overlap_all_helper_legs_keep_the_caller_job_group(spark):
    """A helper leg's job runs in the caller's job group, so
    ``cancelJobGroup`` on that group cancels it mid-run."""
    import time

    import pytest as _pytest

    from lwetl_spark.operators import _parallel

    sc = spark.sparkContext
    group = "test_overlap_all_cancel"

    def blocked():  # a one-task job that runs until it is cancelled
        sc.parallelize([0], 1).map(lambda x: time.sleep(60) or x).collect()

    def cancel_once_running():
        deadline = time.monotonic() + 60
        while not sc.statusTracker().getJobIdsForGroup(group):
            assert time.monotonic() < deadline, "no job ran in the caller's group"
            time.sleep(0.05)
        sc.cancelJobGroup(group)

    sc.setJobGroup(group, "overlap_all cancel", interruptOnCancel=True)
    try:
        with _pytest.raises(Exception, match="cancel"):
            _parallel.overlap_all(blocked, cancel_once_running)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
