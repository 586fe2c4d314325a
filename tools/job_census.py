#!/usr/bin/env python
"""Per-job census for a bench row, read in-process from Spark's status
store (live with ``spark.ui.enabled=false``; no UI, no REST calls).

The row is warmed at sf0.001 and then run ONCE at the target sf_dir (so
one-time template builds — retrieval/IVF probe templates, campaign
bootstrap state — are excluded); the census covers the run after that.
Each job is listed with its wall time, task count, stage count, summed
task run time and shuffle bytes, labelled with the description and the
root plan node of the SQL execution that ran it (a job outside any SQL
execution shows its description or call site; one named ``parquet
at …`` with no description is labelled ``schema-inference`` and
counted, since it means a parquet path was read without a schema).  Many short jobs mean fixed scheduling
cost; task time near the wall means real compute.  Job counts are
load-independent evidence; walls are only meaningful on a quiet box.

Usage: python tools/job_census.py <bench-row> [sf_dir]
"""

from __future__ import annotations

import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

#: plan lines that wrap the operator a job actually ran
_WRAPPERS = ("AdaptiveSparkPlan", "ResultQueryStage")


#: label of a job outside any SQL execution, with no description, named
#: ``parquet at <call site>``: the footer job of a schema-less parquet
#: read (the parallel listing job of a root with many directories has
#: the same name, but describes itself as ``Listing leaf files …``)
INFERENCE = "schema-inference"


def root_node(plan: str) -> str:
    """The first operator of a physical plan description, past the
    header and the AQE wrappers."""
    for line in plan.splitlines():
        name = re.sub(r"\s*\(\d+\)$", "", line.lstrip(" +-:*|")).strip()
        if name and not name.startswith("==") and not name.startswith(_WRAPPERS):
            return name
    return ""


def census(spark, run):
    """(run(), wall seconds, one dict per job ``run`` submitted)."""
    sc = spark.sparkContext._jsc.sc()
    dag, bus, store = sc.dagScheduler(), sc.listenerBus(), sc.statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    first, t0 = dag.numTotalJobs(), time.time()
    out = run()
    wall = time.time() - t0
    last = dag.numTotalJobs()
    bus.waitUntilEmpty(10_000)

    labels = {}  # job id -> (description, root node) of its SQL execution
    execs = sql.executionsList()  # oldest first
    for i in range(execs.size() - 1, -1, -1):
        ex = execs.apply(i)
        if ex.submissionTime() < int(t0 * 1000):
            break
        ids = ex.jobs().keys().toSeq()
        for k in range(ids.size()):
            labels[ids.apply(k)] = (ex.description(), root_node(ex.physicalPlanDescription()))

    rows = []
    jobs = store.jobsList(None)  # newest first
    for i in range(jobs.size()):
        jd = jobs.apply(i)
        jid = jd.jobId()
        if jid < first:
            break
        if jid >= last:
            continue
        sub, done = jd.submissionTime(), jd.completionTime()
        wall_s = (done.get().getTime() - sub.get().getTime()) / 1000 \
            if sub.isDefined() and done.isDefined() else -1.0
        row = {"job": jid, "wall_s": wall_s, "tasks": jd.numCompletedTasks(),
               "stages": 0, "task_s": 0.0, "shuffle_r": 0, "shuffle_w": 0}
        sids = jd.stageIds()
        for k in range(sids.size()):
            st = store.lastStageAttempt(sids.apply(k))
            if st.status().toString() == "SKIPPED":
                continue
            row["stages"] += 1
            row["task_s"] += st.executorRunTime() / 1000
            row["shuffle_r"] += st.shuffleReadBytes()
            row["shuffle_w"] += st.shuffleWriteBytes()
        desc = jd.description()
        row["label"] = labels.get(jid) or (
            (desc.get(), "") if desc.isDefined()
            else (INFERENCE, jd.name()) if jd.name().startswith("parquet at ")
            else (jd.name(), "")
        )
        rows.append(row)
    rows.sort(key=lambda r: r["job"])
    return out, wall, rows


def main():
    from bench import BENCH_OVERRIDES
    import lwetl_spark.queries_etl  # noqa: F401
    from lwetl_spark.queries import QUERIES
    from lwetl_spark.session import get_spark

    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="job_census")
    fn = BENCH_OVERRIDES.get(name) or QUERIES[name]

    # warm at sf0.001 (JVM/codegen), then ONCE at the target sf_dir so
    # one-time template builds fall outside the censused run
    try:
        fn(spark, "/root/testdata/sf0.001").count()
    except Exception as e:
        print(f"# warmup failed: {e}", file=sys.stderr)
    spark.catalog.clearCache()
    fn(spark, sf_dir).count()
    spark.catalog.clearCache()

    n, wall, rows = census(spark, lambda: fn(spark, sf_dir).count())
    print(f"# {name}: {wall:.2f}s wall, {n} rows, {len(rows)} jobs")
    for r in rows:
        desc, node = r["label"]
        print(f"job {r['job']:4d} {r['wall_s']:6.2f}s tasks={r['tasks']:4d} "
              f"stages={r['stages']} task={r['task_s']:6.2f}s "
              f"shufR={r['shuffle_r'] >> 10}K shufW={r['shuffle_w'] >> 10}K  "
              f"{node[:40]} | {(desc or '')[:60]}")
    n_inf = sum(r["label"][0] == INFERENCE for r in rows)
    print(f"# {n_inf} {INFERENCE} job(s) (a parquet read without a schema)")
    print(f"# sum(job walls) = {sum(max(r['wall_s'], 0) for r in rows):.2f}s, "
          f"sum(task run) = {sum(r['task_s'] for r in rows):.2f}s vs row wall "
          f"{wall:.2f}s (gap = driver-side/planning time)")


if __name__ == "__main__":
    main()
