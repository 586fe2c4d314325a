"""Checkpoint pins for operators/incremental.py and the package.

A checkpoint whose row count is needed goes through
`_fsutil.materialize`, which reads the count from the checkpoint's own
job.  A lazy checkpoint followed by ``count()`` costs one more job, and
an eager one followed by ``count()`` two more, so neither shape may
come back.
"""
import inspect
import re
from pathlib import Path

import lwetl_spark
from lwetl_spark.operators import incremental


def _assignment_target(lines, i):
    """Walk back from the checkpoint line to the statement head and
    return the assigned name — or None for a ``return`` expression."""
    j = i
    while j >= 0:
        m = re.match(r"^\s*(\w+)\s*=\s*\(?", lines[j])
        if m and "==" not in lines[j]:
            return m.group(1)
        if re.match(r"^\s*return\b", lines[j]):
            return None
        j -= 1
    return None


def test_no_checkpoint_is_counted_by_a_separate_action():
    """No lazy checkpoint is left in the package, and no checkpointed
    name is counted by its next statements: such a count belongs in the
    checkpoint's own job (`_fsutil.materialize`)."""
    for path in sorted(Path(lwetl_spark.__file__).parent.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, ln in enumerate(lines):
            assert "eager=False" not in ln, f"{path}:{i + 1}"
            if ".localCheckpoint(" not in ln:
                continue
            name = _assignment_target(lines, i)
            if name is None:
                continue
            window = "\n".join(lines[i + 1:i + 16])
            assert not re.search(rf"\b{name}\.count\(\)", window), (
                f"{path}:{i + 1}: '{name}' is checkpointed, then counted "
                f"by another job; use _fsutil.materialize"
            )


def test_eager_checkpoints_remain_where_no_count_follows():
    # the checkpoints shared by several plan branches (tombstones, the
    # compaction candidates) must stay eager: no count follows them
    src = inspect.getsource(incremental)
    assert "localCheckpoint(eager=True)" in src, (
        "the multi-branch eager checkpoints must not be converted to lazy"
    )


def test_cluster_for_write_is_conditional(spark):
    """_partwrite.cluster_for_write: a many-split frame clusters by the
    partition column (one file per value at scale), a few-split frame
    passes through untouched (no array-payload exchange on local
    builds); rows are identical either way."""
    from pyspark.sql import functions as F

    from lwetl_spark.operators._partwrite import cluster_for_write

    few = spark.range(100).withColumn("b", F.pmod("id", F.lit(4))).coalesce(2)
    assert cluster_for_write(few, "b") is few

    many = spark.range(100).withColumn(
        "b", F.pmod("id", F.lit(4))
    ).repartition(16)
    out = cluster_for_write(many, "b")
    assert out is not many
    # clustered: each b value lives in exactly ONE partition, so a
    # partitionBy write emits one file per value, not one per task
    per_part = out.rdd.mapPartitionsWithIndex(
        lambda i, it: [(i, b) for b in {r["b"] for r in it}]
    ).collect()
    partitions_per_value: dict = {}
    for i, b in per_part:
        partitions_per_value.setdefault(b, set()).add(i)
    assert all(len(ps) == 1 for ps in partitions_per_value.values())
    assert sorted(r["id"] for r in out.collect()) == list(range(100))


#: jobs one small delta increment runs (bootstrapped text + IVF index,
#: embeddings, ``snapshot_is_delta``): every checkpoint that needs its
#: row count takes it in its own job, and the state/manifest rewrites
#: write once through `replace_table`
DELTA_INCREMENT_JOBS = 48


def test_delta_increment_work_pin(spark, tmp_path):
    """Jobs are counted by job-id window, not job group: the overlap legs
    run on helper threads outside the caller's group."""
    from lwetl_spark.operators.incremental import ingest_increment

    def docs(ids):
        return spark.createDataFrame(
            [(i, f"doc w{i % 7} v{i % 5} token{i} shared words") for i in ids],
            "doc_id long, text string",
        )

    def emb(ids):
        return spark.createDataFrame(
            [(i, [float(i % 3), float(i % 5), 1.0, float(i)]) for i in ids],
            "doc_id long, embedding array<double>",
        )

    p = {k: str(tmp_path / k) for k in ("m", "s", "x", "v")}
    kw = dict(vector_index_path=p["v"], vector_num_centroids=2)
    ingest_increment(
        spark, docs(range(24)), p["m"], p["s"], p["x"], embeddings=emb(range(24)), **kw
    )
    new = range(24, 28)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.numTotalJobs()
    st = ingest_increment(
        spark, docs(new), p["m"], p["s"], p["x"], embeddings=emb(new),
        snapshot_is_delta=True, **kw,
    )
    jobs = dag.numTotalJobs() - first
    assert st["n_admitted"] == 4 and st["n_vec_indexed"] == 4
    assert spark.read.parquet(p["m"]).count() == 28
    assert jobs <= DELTA_INCREMENT_JOBS, jobs
