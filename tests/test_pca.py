"""pca_power_iteration's three driver-fed rounds and its driver-side
tail: the driver's normalization and tail equal the Spark-side ones
they replaced, edge cases behave as they did, the corpus size counts
NULL and empty embeddings, the result keeps its schema, and building
and draining the query start pinned numbers of Spark jobs."""

from __future__ import annotations

import math

import pytest
import sweep

from sql_database_engine_spark.operators.similarity import (
    _half_up, _pca_next_iterate, _pca_tail)

from .conftest import SF_SMOKE, jobs_started


def _spark_round(spark, xs: list[float]) -> list[int]:
    from pyspark.sql import functions as F
    df = spark.createDataFrame(list(enumerate(xs)), "k int, x double")
    return [r.r for r in df.select(
        "k", F.round("x").cast("bigint").alias("r")).orderBy("k").collect()]


def _spark_iterate(spark, rows):
    """The Spark-side normalization v = round(w * 1e6 / max|w|) over
    ``(i, w)`` rows: the ``(i, v)`` frame and the ``max|w|`` frame."""
    from pyspark.sql import functions as F
    w = spark.createDataFrame(rows, "i int, w double")
    m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
    v = (w.crossJoin(F.broadcast(m))
         .select("i", F.round(F.col("w") * 1000000.0 / F.col("m"))
                 .cast("bigint").alias("v")))
    return v, m


def _spark_normalize(spark, rows) -> list:
    v, _ = _spark_iterate(spark, rows)
    return [r.v for r in v.orderBy("i").collect()]


def _spark_tail(spark, rows, n: int) -> list:
    """The Spark-side tail pca_power_iteration ran on round three's
    ``(i, w)`` rows before the tail moved to the driver."""
    from pyspark.sql import functions as F
    v3, m = _spark_iterate(spark, rows)
    sgn = v3.agg(
        F.when(F.expr("max_by(v, abs(v) * 1000 + (1000 - i))") >= 0, 1)
        .otherwise(-1).alias("s"))
    n_row = spark.createDataFrame([(float(n),)], "n double")
    eig = (m.crossJoin(F.broadcast(n_row))
           .select(F.round(F.col("m") / F.col("n")).cast("bigint")
                   .alias("eig_est_micros")))
    out = (v3.crossJoin(F.broadcast(sgn)).crossJoin(F.broadcast(eig))
           .select(F.col("i").cast("bigint").alias("dim"),
                   (F.col("v") * F.col("s")).cast("bigint")
                   .alias("loading_micros"),
                   "eig_est_micros"))
    return [tuple(r) for r in out.orderBy("dim").collect()]


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


def test_tail_equals_spark_tail(spark):
    cases = [
        # shuffled keys
        ([(3, 2e6), (1, 1.0), (2, -3.0), (4, -1.0)], 7),
        # a NULL w: its loading is NULL, the max and sign skip it
        ([(2, 5.0), (1, None), (3, -2.5)], 3),
        # every w NULL: every v NULL, so the sign is -1 and eig NULL
        ([(1, None), (2, None)], 2),
        # |v| ties: the smaller i carries the sign, either way round
        ([(1, -4.0), (2, 4.0), (3, 1.0)], 5),
        ([(2, -4.0), (1, 4.0), (3, 1.0)], 5),
        # a negative dominant loading flips every sign
        ([(1, 1.0), (2, -9.0), (3, 3.0)], 4),
        ([(i, float((i * 7919) % 1013 - 506) * 1.37e9)
          for i in range(1, 65)], 2000),
        ([], 0),  # an empty corpus: no rows
    ]
    for rows, n in cases:
        assert _pca_tail(rows, n) == _spark_tail(spark, rows, n)


def test_n_counts_null_and_empty_embeddings(spark, tmp_path):
    # n = COUNT(*) over embeddings; a NULL or empty vector has no
    # position, so only the NULL-key row of the aggregate counts it.
    import os

    import duckdb

    from sql_database_engine_spark import operators
    from sql_database_engine_spark.tables import register_duck_views
    operators.load_all()
    replica = str(tmp_path / "null_and_empty")
    os.makedirs(replica)
    src = os.path.join(SF_SMOKE, "embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * REPLACE (CASE WHEN vec_id = 3 THEN NULL "
        "WHEN vec_id = 4 THEN CAST([] AS FLOAT[]) ELSE embedding END "
        f"AS embedding) FROM read_parquet('{src}')) "
        f"TO '{replica}/embeddings.parquet' (FORMAT PARQUET)")
    register_duck_views(con, replica, ("embeddings",))
    assert con.sql("SELECT count(*) FILTER (embedding IS NULL), "
                   "count(*) FILTER (len(embedding) = 0) FROM embeddings"
                   ).fetchone() == (1, 1)
    want = sweep.duck_rows(con, operators.ORACLES["pca_power_iteration"])
    con.close()
    got = sweep.spark_rows(
        operators.QUERIES["pca_power_iteration"](spark, replica))
    assert got == want and len(got[0]) == 64


def test_result_schema_keeps_dim_not_null(spark):
    from pyspark.sql.types import StructType

    from sql_database_engine_spark import operators
    operators.load_all()
    df = operators.QUERIES["pca_power_iteration"](spark, SF_SMOKE)
    assert df.schema == StructType.fromDDL(
        "dim bigint not null, loading_micros bigint, eig_est_micros bigint")


def test_build_starts_at_most_six_jobs(spark):
    # Exactly six: three driver-fed rounds of two jobs each, the
    # aggregate's shuffle map stage and the collect. The table load
    # runs none.
    from sql_database_engine_spark import operators
    operators.load_all()
    _, jobs = jobs_started(
        spark, "pca-build",
        lambda: operators.QUERIES["pca_power_iteration"](spark, SF_SMOKE))
    assert jobs == 6


def test_noop_drain_starts_at_most_one_job(spark):
    # The returned relation is local: draining it runs no corpus pass.
    from sql_database_engine_spark import operators
    operators.load_all()
    df = operators.QUERIES["pca_power_iteration"](spark, SF_SMOKE)
    _, jobs = jobs_started(
        spark, "pca-drain",
        lambda: df.write.format("noop").mode("overwrite").save())
    assert jobs <= 1
