#!/usr/bin/env python
"""IVFADC probe-flatness scale probe (round 7): build the composed
index over 1x/4x/16x de-correlated copies of the embeddings corpus with
num_centroids ∝ n (the cells-track-corpus sizing rule, keeping expected
cell size constant), then time a FIXED 10-query probe and record the
bytes its pruned codes scan touches.  The flat-PQ probe at the same
scales is the contrast: its ADC scan reads the whole codes table, so
probe cost grows with the corpus while IVFADC's stays ~flat.

Usage: python tools/ivfpq_probe.py [sf_dir]   (default /root/testdata/sf0.1)
Writes one JSON line per (layout, scale); paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def dirsize(p: str) -> int:
    tot = 0
    for root, _, files in os.walk(p):
        tot += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return tot


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from lwetl_spark.catalog import load_table
    from lwetl_spark.operators.ivfpq import (
        _load_quantizers,
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from lwetl_spark.operators.similarity import (
        _make_assign_cells,
        build_pq_index,
        query_pq_index,
    )
    from lwetl_spark.session import get_spark

    spark = get_spark(app_name="ivfpq_scale_probe")
    base = load_table(spark, sf_dir, "embeddings")
    n0 = base.count()

    def scaled(scale: int):
        parts = []
        for i in range(scale):
            rot = (i * 7) % 64
            parts.append(
                base.select(
                    (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                    F.expr(
                        f"concat(slice(embedding, {rot + 1}, {64 - rot}),"
                        f" slice(embedding, 1, {rot}))"
                    ).alias("embedding"),
                )
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.localCheckpoint(eager=True)

    queries = base.limit(10).localCheckpoint(eager=True)  # FIXED batch
    for scale in (1, 4, 16):
        emb = scaled(scale)
        n = n0 * scale
        cells = 16 * scale  # cells ∝ n: expected cell size constant
        work = tempfile.mkdtemp(prefix=f"ivfpq_probe_{scale}x_")
        build_ivfpq_index(emb, f"{work}/ivfpq", num_centroids=cells)
        build_pq_index(emb, f"{work}/pq")

        # probed-cell bytes for the fixed batch (file-listing pruning)
        C, _, _ = _load_quantizers(spark, f"{work}/ivfpq")
        b_C = spark.sparkContext.broadcast(C)
        pv = queries.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("v")
        ).mapInPandas(
            _make_assign_cells(b_C, 8, carry_v=True),
            "id long, cell int, v array<double>",
        )
        probed = sorted({r["cell"] for r in pv.select("cell").distinct().collect()})
        probed_b = sum(
            dirsize(f"{work}/ivfpq/codes/cell={c}") for c in probed
        )
        codes_b = dirsize(f"{work}/ivfpq/codes")
        pq_codes_b = dirsize(f"{work}/pq/codes")

        for layout, fn in (
            ("ivfpq", lambda: query_ivfpq_index(
                spark, f"{work}/ivfpq", queries, k=5, nprobe=8, rerank=200
            )),
            ("flat_pq", lambda: query_pq_index(
                spark, f"{work}/pq", queries, k=5, rerank=200
            )),
        ):
            best = float("inf")
            for _ in range(3):
                t0 = time.time()
                fn().count()
                best = min(best, time.time() - t0)
            row = {
                "op": f"probe_{layout}", "scale": scale, "n_vectors": n,
                "sec": round(best, 2),
            }
            if layout == "ivfpq":
                row.update(
                    cells=cells, probed_cells=len(probed),
                    probed_bytes=probed_b, codes_bytes=codes_b,
                )
            else:
                row.update(codes_bytes=pq_codes_b)
            print(json.dumps(row))
        import shutil

        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
