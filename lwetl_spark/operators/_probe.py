"""Driver-side planning for index probes.

A probe's query batch, its term hash buckets and its IVF cells are
small facts the driver can work out itself.  The helpers here collect
the batch once under a fixed bound, hash terms exactly as Spark's
``xxhash64`` does, and hand the batch back to Spark as a one-partition
local relation, so no probe job runs through a Python worker just to
learn them.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

#: largest query batch a probe collects to the driver.  A batch is a
#: handful of queries in every caller; past this the probe refuses the
#: batch rather than pull an unbounded frame onto the driver.
_MAX_PROBE_ROWS = 100_000


def collect_batch(df: DataFrame) -> list:
    """The rows of a probe's query batch: one collect bounded by
    ``limit(_MAX_PROBE_ROWS + 1)``; raises ``ValueError`` past the
    bound.  The batch is coalesced to one partition first: a limit over
    several partitions scans them in scale-up rounds, one job each."""
    rows = df.coalesce(1).limit(_MAX_PROBE_ROWS + 1).collect()
    if len(rows) > _MAX_PROBE_ROWS:
        raise ValueError(
            f"probe batch has more than {_MAX_PROBE_ROWS:,} rows; "
            "split it into smaller batches"
        )
    return rows


def local_frame(spark, rows, schema) -> DataFrame:
    """``rows`` (tuples in ``schema`` order; ``schema`` a DDL string or
    StructType) as an Arrow-built local relation on one partition.  A
    local relation is a JVM-side scan: joins and broadcasts over it
    never start a Python worker, unlike a ``parallelize``d list."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    pa_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(pa_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, pa_schema)],
        schema=pa_schema,
    )
    return spark.createDataFrame(table, schema).coalesce(1)


_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxh64(s: str, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of a string (XXH64 over its UTF-8 bytes,
    little-endian lanes, seed 42), as the same signed 64-bit value."""
    data = s.encode("utf-8")
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i <= n - 32:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, lane), 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ (lane * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1 & _M64
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def tok_buckets(toks, n_buckets: int) -> list[int]:
    """Sorted distinct ``pmod(xxhash64(tok), n_buckets)`` of the
    non-null ``toks`` — the hash-bucket directories a probe reads."""
    return sorted({xxh64(t) % n_buckets for t in toks if t is not None})
