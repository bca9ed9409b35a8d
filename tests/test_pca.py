"""pca_power_iteration's driver-fed feedback rounds: the driver-side
normalization equals Spark's, edge cases behave as the Spark-side
normalization did, and building the query starts a pinned number of
Spark jobs."""

from __future__ import annotations

import math

import pytest
import sweep

from sql_database_engine_spark.operators.similarity import (
    _half_up, _pca_next_iterate)

from .conftest import SF_SMOKE, jobs_started


def _spark_round(spark, xs: list[float]) -> list[int]:
    from pyspark.sql import functions as F
    df = spark.createDataFrame(list(enumerate(xs)), "k int, x double")
    return [r.r for r in df.select(
        "k", F.round("x").cast("bigint").alias("r")).orderBy("k").collect()]


def _spark_normalize(spark, rows) -> list:
    """The Spark-side normalization: v = round(w * 1e6 / max|w|)."""
    from pyspark.sql import functions as F
    w = spark.createDataFrame(rows, "i int, w double")
    m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
    v = (w.crossJoin(F.broadcast(m))
         .select("i", F.round(F.col("w") * 1000000.0 / F.col("m"))
                 .cast("bigint").alias("v")))
    return [r.v for r in v.orderBy("i").collect()]


def test_half_up_equals_spark_round(spark):
    ties = [0.5, 2.5, 999999.5, 1.5, 12345.5]
    xs = [0.49999999999999994, 1e6, 0.0, 3.4999999999999996, 0.7, 1.3]
    for t in ties:
        xs += [t, math.nextafter(t, -math.inf), math.nextafter(t, math.inf)]
    xs += [-x for x in xs]
    assert [_half_up(x) for x in xs] == _spark_round(spark, xs)


def test_next_iterate_equals_spark_normalization(spark):
    cases = [
        # shuffled keys, a NULL w, and w * 1e6 / m on ties ±0.5, -1.5
        [(3, 2e6), (1, 1.0), (5, None), (2, -3.0), (4, -1.0)],
        [(1, 123456789.0), (2, -987654321.0), (3, 1.0), (4, 0.0)],
        [(i, float((i * 7919) % 1013 - 506) * 1.37e9) for i in range(1, 65)],
        [(1, None), (2, None)],
        [],  # an empty corpus: no iterate, not a max() of nothing
    ]
    for rows in cases:
        assert _pca_next_iterate(rows) == _spark_normalize(spark, rows)


def test_zero_max_raises_like_spark(spark):
    from pyspark.errors import ArithmeticException
    rows = [(1, 0.0), (2, None), (3, -0.0)]
    with pytest.raises(ZeroDivisionError):
        _pca_next_iterate(rows)
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        _spark_normalize(spark, rows)


def test_empty_corpus_gives_no_rows(spark, tmp_path, monkeypatch):
    import duckdb

    from sql_database_engine_spark import operators, scratch
    from sql_database_engine_spark.catalog import register_duck_views
    monkeypatch.setattr(scratch, "SCRATCH_ROOT", str(tmp_path))
    replica, _ = sweep.stage_replica("empty:all", SF_SMOKE, spark)
    operators.load_all()
    got = sweep.spark_rows(
        operators.QUERIES["pca_power_iteration"](spark, replica))
    con = duckdb.connect()
    register_duck_views(con, replica)
    want = sweep.duck_rows(con, operators.ORACLES["pca_power_iteration"])
    con.close()
    assert got == want and got[0] == []


def test_build_starts_at_most_six_jobs(spark):
    # One table load plus two driver-fed rounds of two jobs each, and
    # the round-three checkpoint's shuffle map stage.
    from sql_database_engine_spark import operators
    operators.load_all()
    _, jobs = jobs_started(
        spark, "pca-build",
        lambda: operators.QUERIES["pca_power_iteration"](spark, SF_SMOKE))
    assert jobs <= 6
