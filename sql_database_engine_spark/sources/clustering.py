"""Z-order (Morton) clustering: multi-column data layout for min/max
file skipping.

A table sorted on one column skips files well for predicates on that
column and not at all for a second column. Interleaving the bits of
two quantized keys (Morton order) and range-partition-sorting on the
interleaved key gives every file a tight min/max envelope on BOTH
columns — each of N files spans ~1/sqrt(N) of each dimension instead
of one dimension perfectly and the other fully. Parquet readers prune
row groups from exactly these footer stats, so at 100 TB this turns
two-column point/range predicates into reads of a few files. (Same
layout idea Delta/Iceberg expose as ``OPTIMIZE ... ZORDER BY``; here
it is plain Spark: quantize → interleave → repartitionByRange → sorted
write.)

Everything stays in whole-stage codegen: the Morton key is a fixed
chain of shift/mask/or column expressions, the quantization a min/max
affine map (two driver-side scalars per column from one aggregate).
The range partitioner samples the key like any repartitionByRange —
no driver-side data path.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

#: Bits per dimension: 8 → 65,536 Z-cells, plenty to order files by;
#: file envelopes are set by file count, not by key resolution.
DEFAULT_BITS = 8


def _quantize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Affine map of [lo, hi] onto the integer grid [0, 2^bits)."""
    cells = (1 << bits) - 1
    if lo is None or hi is None or hi <= lo:
        # Empty/all-null input (min/max come back NULL) or a constant
        # column: one cell. The write must stay total over the empty
        # relation — a pruned-to-nothing source is routine at scale.
        return F.lit(0).cast("long")
    scaled = (col.cast("double") - F.lit(float(lo))) * cells / (float(hi) - float(lo))
    return F.least(F.greatest(F.round(scaled).cast("long"), F.lit(0)),
                   F.lit(cells))


def morton_key(qa: Column, qb: Column, bits: int = DEFAULT_BITS) -> Column:
    """Bit-interleave two quantized keys (a even bits, b odd bits)."""
    key = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftleft(F.shiftright(qa, i).bitwiseAND(F.lit(1)), 2 * i)
        bbit = F.shiftleft(F.shiftright(qb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        key = key.bitwiseOR(abit).bitwiseOR(bbit)
    return key


def zorder_write(df: DataFrame, path: str, cols: tuple[str, str],
                 files: int = 8, bits: int = DEFAULT_BITS) -> None:
    """Write ``df`` as parquet clustered in Z-order on two columns.

    One pass for per-column min/max (driver gets 4 scalars, never
    rows), one shuffle (the range partition on the Morton key), sorted
    files out. ``files`` should track data volume — at cluster scale,
    total size / target file size (~1 GB).
    """
    a, b = cols
    stats = df.agg(F.min(a).alias("la"), F.max(a).alias("ha"),
                   F.min(b).alias("lb"), F.max(b).alias("hb")).first()
    key = morton_key(
        _quantize(F.col(a), stats["la"], stats["ha"], bits),
        _quantize(F.col(b), stats["lb"], stats["hb"], bits), bits)
    (df.withColumn("__z", key)
     .repartitionByRange(files, "__z")
     .sortWithinPartitions("__z")
     .drop("__z")
     .write.mode("overwrite").parquet(path))


def _hilbert_lookup(bits: int) -> pa.Table:
    """The (x, y) → Hilbert-d mapping for a 2^bits grid as an Arrow
    table of int64 columns ``__hx``, ``__hy``, ``__h``, computed once
    driver-side (vectorized numpy, ~65k cells at bits=8). The iterative
    rotate-and-accumulate recurrence would otherwise become an
    exponentially-duplicated column expression tree; as data it is a
    tiny broadcast dimension instead — the Spark-idiomatic shape for
    any compute-once pure function of a small domain."""
    import numpy as np
    n = 1 << bits
    xs, ys = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    x, y = xs.ravel().copy(), ys.ravel().copy()
    d = np.zeros_like(x, dtype=np.int64)
    s = n >> 1
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant: classic Hilbert xy2d step
        flip = ry == 0
        swap_x = np.where(flip, np.where(rx == 1, s - 1 - y, y), x)
        swap_y = np.where(flip, np.where(rx == 1, s - 1 - x, x), y)
        x, y = swap_x, swap_y
        s >>= 1
    return pa.table({"__hx": xs.ravel(), "__hy": ys.ravel(), "__h": d})


def hilbert_write(df: DataFrame, path: str, cols: tuple[str, str],
                  files: int = 8, bits: int = DEFAULT_BITS) -> None:
    """Like :func:`zorder_write` but on the Hilbert curve: unlike
    Z-order, consecutive curve positions are always grid-adjacent (no
    diagonal jumps across the space), so file envelopes are tighter
    for the same file count."""
    spark = df.sparkSession
    a, b = cols
    stats = df.agg(F.min(a).alias("la"), F.max(a).alias("ha"),
                   F.min(b).alias("lb"), F.max(b).alias("hb")).first()
    cells = _hilbert_lookup(bits)
    lut = spark.createDataFrame(cells)
    keyed = (df.withColumn("__hx", _quantize(F.col(a), stats["la"], stats["ha"], bits))
             .withColumn("__hy", _quantize(F.col(b), stats["lb"], stats["hb"], bits))
             .join(F.broadcast(lut), ["__hx", "__hy"]))
    (keyed.repartitionByRange(files, "__h")
     .sortWithinPartitions("__h")
     .drop("__hx", "__hy", "__h")
     .write.mode("overwrite").parquet(path))


def ensure_clustered_lineitem(spark, sf_dir: str, files: int = 16) -> str:
    """Materialize a Hilbert-clustered copy of lineitem on
    (l_orderkey, l_extendedprice), idempotent per path — the staged
    physical-design twin of ``sources/bucketed.py``. Returns the
    parquet path. The write is the once-paid clustering pass every
    two-column range scan then prunes against via parquet min/max
    footer stats."""
    import os
    import re

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    tag = re.sub(r"\W+", "_", sf_dir.strip("/"))
    path = os.path.join(repo_root, "spark-warehouse", "clustered",
                        f"lineitem_hilbert_v2_{tag}")  # v2: _schema.json sidecar

    def build(tmp: str) -> None:
        from ..catalog import load_table
        df = load_table(spark, sf_dir, "lineitem")
        hilbert_write(df, tmp, ("l_orderkey", "l_extendedprice"),
                      files=files)
        # Schema sidecar (underscore-prefixed: parquet readers skip
        # it): readers stay total over an EMPTY clustered copy (zero
        # data files) without re-reading the source footer per query.
        with open(os.path.join(tmp, "_schema.json"), "w") as f:
            f.write(df.schema.json())

    from ..scratch import stage_atomic
    # rename-commit: concurrent sessions never overwrite files a
    # rival is scanning (the bucketed.py race class).
    return stage_atomic(path, build, marker="_SUCCESS")


def read_clustered(spark, path: str):
    """Read a clustered layout via its schema sidecar — no inference
    (fails on an empty copy), no per-query source-footer read."""
    import json

    from pyspark.sql.types import StructType

    with open(os.path.join(path, "_schema.json")) as f:
        schema = StructType.fromJson(json.loads(f.read()))
    return spark.read.schema(schema).parquet(path)
