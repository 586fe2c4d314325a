#!/usr/bin/env python
"""Capture `.explain("formatted")` output for bench rows into
plans/<dir>/<name>_<tag>.txt (dir = argv[1], e.g. r12; tag =
before/after — argv[2], default "before").  Optional argv[3:]
restricts to named rows.

Lineage-truncated rows (eager checkpoints / writes inside the fn)
have no meaningful static plan on the returned frame; for those the
file records the executed-job shuffle census instead (the
plan_audit.py technique).

Usage:
    python tools/plan_capture.py r12 before
    python tools/plan_capture.py r12 after x_tiff_pixels x_ann_pq
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    from bench import BENCH_OVERRIDES, EXTENDED, HEADLINE
    import lwetl_spark.queries_etl  # noqa: F401 — registers the ETL half
    from lwetl_spark.queries import QUERIES
    from lwetl_spark.session import get_spark
    from tools.plan_audit import LINEAGE_TRUNCATED, _stage_totals

    out_dir = REPO / "plans" / sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark(
        app_name="plan_capture", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")

    for name in HEADLINE + EXTENDED:
        if only and name not in only:
            continue
        fn = BENCH_OVERRIDES.get(name) or QUERIES[name]
        path = out_dir / f"{name}_{tag}.txt"
        if name in LINEAGE_TRUNCATED:
            spark.catalog.clearCache()
            rd0, wr0, in0, st0 = _stage_totals(spark)
            n = fn(spark, SF_DIR).count()
            rd1, wr1, in1, st1 = _stage_totals(spark)
            path.write_text(
                f"# {name} [{tag}] — lineage-truncated "
                f"({LINEAGE_TRUNCATED[name]})\n"
                f"# executed-job census over {st1 - st0} stages, "
                f"{n} result rows\n"
                f"executed shuffle_read={(rd1 - rd0) >> 20}MB "
                f"shuffle_write={(wr1 - wr0) >> 20}MB "
                f"input={(in1 - in0) >> 20}MB\n"
            )
        else:
            df = fn(spark, SF_DIR)
            plan = (
                df._jdf.queryExecution()
                .explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")
                )
            )
            path.write_text(f"# {name} [{tag}]\n{plan}\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
