"""Z-order clustering: per-file min/max envelopes must tighten on
BOTH clustered columns versus a layout sorted on an unrelated key —
the footer-stats property parquet row-group pruning feeds on."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from .conftest import SF_SMOKE


def _avg_relative_span(path: str, col: str) -> float:
    spans, glo, ghi = [], None, None
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo = hi = None
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                c = row_group.column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                    hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
        assert lo is not None, f"no stats for {col} in {f}"
        spans.append(hi - lo)
        glo = lo if glo is None else min(glo, lo)
        ghi = hi if ghi is None else max(ghi, hi)
    assert len(spans) > 1, "need multiple files to measure locality"
    return (sum(spans) / len(spans)) / (ghi - glo)


def test_zorder_tightens_both_columns(spark, tmp_path):
    from sql_database_engine_spark.sources.clustering import zorder_write

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    zpath = str(tmp_path / "li_z")
    bpath = str(tmp_path / "li_base")
    zorder_write(li, zpath, ("l_partkey", "l_suppkey"), files=8)
    # Baseline: same file count, ordered by an unrelated key — each
    # file spans ~the full range of both clustered columns.
    (li.repartitionByRange(8, "l_orderkey").sortWithinPartitions("l_orderkey")
     .write.mode("overwrite").parquet(bpath))

    for col in ("l_partkey", "l_suppkey"):
        z = _avg_relative_span(zpath, col)
        base = _avg_relative_span(bpath, col)
        assert z < 0.6 * base, (col, z, base)

    # Clustering must not change the data.
    back = spark.read.parquet(zpath)
    assert back.count() == li.count()
    a = back.agg(F.sum("l_extendedprice")).first()[0]
    b = li.agg(F.sum("l_extendedprice")).first()[0]
    assert abs(a - b) < 1e-6


def test_hilbert_at_least_as_tight_as_zorder(spark, tmp_path):
    from sql_database_engine_spark.sources.clustering import (
        hilbert_write, zorder_write)

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    hpath, zpath = str(tmp_path / "li_h"), str(tmp_path / "li_z")
    hilbert_write(li, hpath, ("l_partkey", "l_suppkey"), files=8)
    zorder_write(li, zpath, ("l_partkey", "l_suppkey"), files=8)
    spans_h = [_avg_relative_span(hpath, c) for c in ("l_partkey", "l_suppkey")]
    spans_z = [_avg_relative_span(zpath, c) for c in ("l_partkey", "l_suppkey")]
    # Hilbert's no-diagonal-jump property shows up as (a) smaller
    # combined envelope and (b) better balance: the worst dimension's
    # span shrinks (Z-order concentrates its error in one dimension;
    # Hilbert spreads it). Per-dimension spans may individually trade.
    assert sum(spans_h) <= sum(spans_z) * 1.05, (spans_h, spans_z)
    assert max(spans_h) < max(spans_z), (spans_h, spans_z)
    assert spark.read.parquet(hpath).count() == li.count()


def test_engine_cluster_api_both_curves(spark, tmp_path):
    from sql_database_engine_spark.engine import Engine
    e = Engine(spark, SF_SMOKE)
    li = e.table("lineitem")
    for curve in ("zorder", "hilbert"):
        out = e.zorder_table(li, str(tmp_path / curve),
                             ("l_partkey", "l_suppkey"), files=4, curve=curve)
        assert out.count() == li.count()


def test_hilbert_lookup_walks_the_grid_in_unit_steps(spark):
    from sql_database_engine_spark.sources.clustering import _hilbert_lookup

    bits = 4
    lut = _hilbert_lookup(bits).to_pydict()
    walk = sorted(zip(lut["__h"], lut["__hx"], lut["__hy"]))
    assert [h for h, _, _ in walk] == list(range(1 << 2 * bits))
    # Consecutive curve positions are grid neighbours: no diagonal jumps.
    assert all(abs(x1 - x0) + abs(y1 - y0) == 1
               for (_, x0, y0), (_, x1, y1) in zip(walk, walk[1:]))
    schema = spark.createDataFrame(_hilbert_lookup(bits)).schema
    assert schema.simpleString() == "struct<__hx:bigint,__hy:bigint,__h:bigint>"
    assert all(f.nullable for f in schema)
