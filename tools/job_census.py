#!/usr/bin/env python
"""Per-job census for a bench row (without a live UI page): run the
row with the REST API on and list every job with its wall time, stage
count, task count and shuffle bytes — separating fixed scheduling
overhead (many tiny jobs) from real compute.  The row is warmed at
sf0.001 and then ONCE at the target sf_dir (so one-time template
builds — retrieval/IVF probe templates, campaign bootstrap state — are
excluded); the census covers the run after that.  Job counts are
load-independent evidence; walls are only meaningful on a quiet box.

Usage: python tools/job_census.py <bench-row> [sf_dir]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main():
    from bench import BENCH_OVERRIDES
    import lwetl_spark.queries_etl  # noqa: F401
    from lwetl_spark.queries import QUERIES
    from lwetl_spark.session import get_spark

    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="job_census",
                      extra_conf={"spark.ui.enabled": "true"})
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

    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    def jobs():
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/jobs?status=succeeded"
        ) as r:
            return json.load(r)

    def stages():
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete"
        ) as r:
            return json.load(r)

    seen = {j["jobId"] for j in jobs()}
    t0 = time.time()
    n = fn(spark, sf_dir).count()
    wall = time.time() - t0

    st_by_id = {s["stageId"]: s for s in stages()}
    new = [j for j in jobs() if j["jobId"] not in seen]
    new.sort(key=lambda j: j["jobId"])
    print(f"# {name}: {wall:.2f}s wall, {n} rows, {len(new)} jobs")
    total_job = 0.0
    for j in new:
        sub = j.get("submissionTime")
        comp = j.get("completionTime")
        from datetime import datetime

        def p(ts):
            return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z")

        dur = (p(comp) - p(sub)).total_seconds() if sub and comp else -1
        total_job += max(dur, 0)
        sids = j.get("stageIds", [])
        srd = sum(st_by_id.get(s, {}).get("shuffleReadBytes", 0)
                  for s in sids)
        swr = sum(st_by_id.get(s, {}).get("shuffleWriteBytes", 0)
                  for s in sids)
        ntask = j.get("numCompletedTasks", 0)
        desc = (j.get("description") or j.get("name") or "")[:72]
        print(f"job {j['jobId']:4d} {dur:6.2f}s tasks={ntask:4d} "
              f"stages={len(sids)} shufR={srd >> 10}K shufW={swr >> 10}K  {desc}")
    print(f"# sum(job walls) = {total_job:.2f}s vs row wall {wall:.2f}s "
          f"(gap = driver-side/planning time)")


if __name__ == "__main__":
    main()
