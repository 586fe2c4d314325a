"""Port of the reference's `examples/calc_md5.py` (row-hash a table,
write the hash back), Spark-first.

The reference iterates a cursor row-by-row, md5s each row driver-side
and issues one UPDATE per row with manual 1000-row commits
(`/root/reference/examples/calc_md5.py`) — single-threaded, ≤4k rows/s.
Here the hash is ONE column expression (JVM-side, whole-stage codegen)
and the write-back is one staged rewrite — the same result at scan
speed, with the reference's dry-run safety available via
WritePolicy.PLAN.

Run: python examples/calc_md5.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from lwetl_spark.api import SparkEtl  # noqa: E402
from lwetl_spark.functions.scalars import md5_row_hash  # noqa: E402
from lwetl_spark.sinks.uploader import Uploader, WritePolicy  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="calc_md5_")
    os.makedirs(out_dir, exist_ok=True)

    etl = SparkEtl(sf_dir)
    # the reference's SELECT * ... ORDER BY ID cursor loop becomes one plan
    customers = etl.query_df("SELECT * FROM customer")
    hashed = customers.withColumn("hash_value", md5_row_hash(*customers.columns))

    # write the hashed table, then correct it through a COMMIT Uploader
    # (each rewrite is written once to a sibling dir, swapped in by rename)
    path = f"{out_dir}/customer_hashed"
    hashed.write.mode("overwrite").parquet(path)
    # U4-style targeted correction through the Uploader (the reference
    # updates row-by-row; here one conditional rewrite)
    up = Uploader(etl.spark, path, policy=WritePolicy.COMMIT)
    n_fixed = up.update({"hash_value": None}, {"c_mktsegment": "BUILDING"})
    print(f"reset {n_fixed} BUILDING-segment hashes for recompute")

    back = etl.spark.read.parquet(path)
    n = back.filter(F.length("hash_value") == 32).count()
    print(f"hashed {n} rows -> {path}")


if __name__ == "__main__":
    main()
