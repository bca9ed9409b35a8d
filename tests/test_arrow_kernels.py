"""Bit-exactness pins for the vector-scoring folds and kernels.

Vector scoring runs as fused JVM folds (``dot``, ``cosine``,
``l2sq`` and the plane codes, ``aggregate(zip_with(...))``), plus one
Arrow/NumPy kernel, ``_cos_pair``, kept where it wins, and Lloyd's
argmin kernel. The contract is BIT-IDENTICAL values: every form folds
left-assoc from 0.0 with a per-element float→double cast, NULL input
scores NULL, and a zero vector's cosine is NaN, never an ANSI error.
These tests pin the kernels against the folds, and the folds against
NumPy and a per-plane reference, on the real sf0.001 fixtures — an
edit that drifts a single ulp (or mishandles NULL vs NaN) fails here
before the oracle sweep ever runs.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _emb(spark):
    from sql_database_engine_spark.catalog import Catalog
    return Catalog(spark, SF_SMOKE).embeddings


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cos_pair_kernel_matches_jvm_fold_bitwise(spark):
    from sql_database_engine_spark.operators.similarity import (
        _cos_pair, cosine)

    e = _emb(spark)
    q = (e.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    pairs = e.crossJoin(F.broadcast(q))
    kern = pairs.select("vec_id", "qid",
                        _cos_pair(F.col("embedding"), F.col("qv"))
                        .alias("c"))
    ref = pairs.select("vec_id", "qid",
                       cosine("embedding", "qv").alias("c"))
    # exact tuple compare: doubles must be BIT-identical (repr-exact),
    # NULLs must be NULL on both sides (not NaN)
    a = _rows(kern.select("vec_id", "qid",
                          F.col("c").cast("string").alias("s"),
                          F.isnull("c").alias("isn")))
    b = _rows(ref.select("vec_id", "qid",
                         F.col("c").cast("string").alias("s"),
                         F.isnull("c").alias("isn")))
    assert a == b and len(a) > 0


def test_dot_and_l2sq_folds_match_numpy(spark):
    import numpy as np

    from sql_database_engine_spark.operators.similarity import (
        _seq_dot, dot, l2sq)

    e = _emb(spark).filter(F.col("embedding").isNotNull())
    q = (e.filter(F.col("vec_id") < 2)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    rows = e.crossJoin(F.broadcast(q)).select(
        "vec_id", "qid", "embedding", "qv", dot("embedding", "qv").alias("d"),
        l2sq("embedding", "qv", "double").alias("l2d")
    ).collect()
    assert len(rows) > 0
    X = np.array([r["embedding"] for r in rows], dtype=np.float32)
    Y = np.array([r["qv"] for r in rows], dtype=np.float32)
    X, Y = X.astype(np.float64), Y.astype(np.float64)
    want_l2d = np.zeros(len(rows))
    for j in range(X.shape[1]):
        want_l2d = want_l2d + (X[:, j] - Y[:, j]) * (X[:, j] - Y[:, j])
    # repr compare: the fold and the _seq_dot order agree to the bit
    assert [repr(r["d"]) for r in rows] == [repr(v) for v in _seq_dot(X, Y)]
    assert [repr(r["l2d"]) for r in rows] == [repr(v) for v in want_l2d]

    # integer micro lanes: exact int64, any order
    micro = F.expr("transform(embedding, x -> "
                   "CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
    lanes = (e.select("vec_id", micro.alias("e"))
             .crossJoin(F.broadcast(
                 e.filter(F.col("vec_id") < 2)
                 .select(F.col("vec_id").alias("qid"),
                         micro.alias("qe"))))
             .select("e", "qe", l2sq("e", "qe").alias("d"))
             .collect())
    A = np.array([r["e"] for r in lanes], dtype=np.int64)
    B = np.array([r["qe"] for r in lanes], dtype=np.int64)
    assert [r["d"] for r in lanes] == ((A - B) * (A - B)).sum(axis=1).tolist()
    assert len(lanes) > 0


def test_plane_code_kernels_match_jvm_fold(spark):
    from sql_database_engine_spark.operators.similarity import (
        _ANN_PLANES, _NEARDUP_PLANES, _ann_bucket_code, _neardup_code)

    def jvm_code(vec, planes):
        code = F.lit(0).cast("long")
        for i, p in enumerate(planes):
            proj = F.aggregate(
                F.zip_with(vec,
                           F.array(*[F.lit(float(x)) for x in p]),
                           lambda x, y: x.cast("double") * y),
                F.lit(0.0), lambda acc, x: acc + x)
            code = code.bitwiseOR(
                F.shiftleft(F.when(proj > 0, 1).otherwise(0).cast("long"),
                            i))
        return code

    e = _emb(spark).filter(F.col("embedding").isNotNull())
    for kernel, planes in ((_neardup_code, _NEARDUP_PLANES),
                           (_ann_bucket_code, _ANN_PLANES)):
        a = _rows(e.select("vec_id", kernel("embedding")))
        b = _rows(e.select("vec_id", jvm_code(F.col("embedding"), planes)))
        assert a == b and len(a) > 0


def test_lloyd_assign_matches_crossjoin_argmin(spark):
    from sql_database_engine_spark.operators.similarity import (
        _lloyd_assign, _micro_vectors)

    e = _micro_vectors(spark, SF_SMOKE)
    cents = (e.filter(F.col("vec_id") < 4)
             .select(F.col("vec_id").cast("long").alias("cid"),
                     F.col("e").alias("c")))
    got = _rows(_lloyd_assign(e, cents).select("vec_id", "cid"))

    dist = F.aggregate(
        F.zip_with(F.col("e"), F.col("c"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    ref = (e.crossJoin(F.broadcast(cents))
           .select("vec_id", "cid", dist.alias("d"))
           .groupBy("vec_id")
           .agg(F.min(F.struct("d", "cid")).alias("m"))
           .select("vec_id", F.col("m.cid").alias("cid")))
    assert got == _rows(ref) and len(got) > 0


def test_lloyd_assign_empty_centroids_yields_no_rows(spark):
    from sql_database_engine_spark.operators.similarity import (
        _lloyd_assign, _micro_vectors)

    e = _micro_vectors(spark, SF_SMOKE)
    cents = (e.filter(F.lit(False))
             .select(F.col("vec_id").cast("long").alias("cid"),
                     F.col("e").alias("c")))
    out = _lloyd_assign(e, cents)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_id", "e", "cid"]


def test_kernels_null_element_inside_vector_matches_fold(spark):
    """ADVICE r11: a NULL *element* inside a vector reaches the kernel
    as a NaN lane (Arrow list→float conversion), where the JVM fold
    returns SQL NULL — unfixed, the kernel's NaN would rank FIRST
    under ORDER BY DESC. Pins ``_cos_pair`` against the fold on a
    frame that actually contains element nulls, the folds' own NULL
    results, and the zero vector: every cosine form (the kernel, the
    fused ``cosine``, and the factored-norm ``dot / (n_a * n_b)`` of
    the LSH and near-dup queries) scores it NaN instead of raising
    ANSI DIVIDE_BY_ZERO."""
    from sql_database_engine_spark.operators.similarity import (
        _cos_pair, _cosine_normed, cosine, dot, l2sq)

    rows = [
        (0, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),      # clean
        (1, [1.0, None, 3.0], [4.0, 5.0, 6.0]),     # element null left
        (2, [1.0, 2.0, 3.0], [4.0, 5.0, None]),     # element null right
        (3, None, [4.0, 5.0, 6.0]),                 # whole-vector null
        (4, [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),      # zero vector
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<float>, b array<float>")
    normed = df.select("*", F.sqrt(dot("a", "a")).alias("na"),
                       F.sqrt(dot("b", "b")).alias("nb"))
    out = {r["id"]: r for r in normed.select(
        "id", _cos_pair(F.col("a"), F.col("b")).alias("kc"),
        cosine("a", "b").alias("rc"),
        _cosine_normed("a", "b", "na", "nb").alias("fc"),
        dot("a", "b").alias("d"), l2sq("a", "b", "double").alias("l2")
    ).collect()}
    for i in range(4):
        r = out[i]
        assert repr(r["kc"]) == repr(r["rc"]) == repr(r["fc"]), r
    assert out[0]["rc"] == 32.0 / (14.0 ** 0.5 * 77.0 ** 0.5)
    assert (out[0]["d"], out[0]["l2"]) == (32.0, 27.0)
    for i in (1, 2, 3):
        assert out[i]["kc"] is None, out[i]
        assert out[i]["d"] is None and out[i]["l2"] is None, out[i]
    z = out[4]
    assert all(z[k] != z[k] for k in ("kc", "rc", "fc")), z  # all NaN
    assert (z["d"], z["l2"]) == (0.0, 0.0)

    idf = spark.createDataFrame(
        [(0, [1, 2], [3, 4]), (1, [1, None], [3, 4]), (2, None, [3, 4])],
        "id long, a array<bigint>, b array<bigint>")
    io = {r["id"]: r["k"] for r in idf.select(
        "id", l2sq("a", "b").alias("k")).collect()}
    assert io == {0: 8, 1: None, 2: None}
