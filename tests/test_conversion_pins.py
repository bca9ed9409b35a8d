"""Pins for the round-5 rows-only → oracle conversions.

The conversions rest on two cross-engine assumptions that nothing
else in the suite isolates:

1. `repr(float)` literals round-trip BIT-EXACTLY through DuckDB's SQL
   parser (the `_ann_bucket_sql` / `_neardup_code_sql` plane
   embedding) — if either engine perturbed a plane coefficient, a
   near-zero projection could flip a sign bit and the bucket codes
   would silently diverge.
2. The md5-derived 32-bit cell hash (`sketches._cells`) computes the
   same (row, cell) pairs in Spark and DuckDB (`_cells_sql`).

Plus the vacuous-branch lesson (ROUND4_NOTES): at every test SF the
default 4x16384 CMS has zero collisions, so the min-over-rows
estimate equals the exact count and the driver's hash check never
exercises the OVERCOUNT regime. A narrow-width sketch forces real
collisions so the collision arithmetic itself is pinned.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_ORACLE


def test_plane_literals_roundtrip_bitexact():
    """Every hyperplane coefficient embedded in oracle SQL parses
    back to the identical IEEE-754 double in DuckDB.

    Regression pin for a real parser trap: bare ``repr`` literals
    inside a DuckDB LIST are unified to one DECIMAL type BEFORE any
    ``::DOUBLE[]`` cast, rounding 17-significant-digit coefficients
    in the last ulp (benign for sign-bit codes — a projection would
    have to sit within ~1e-15 of zero to flip — but not bit-exact).
    `_dlit` forces scientific notation so the parser produces DOUBLE
    directly; this test fails if anyone reverts to plain repr."""
    from sql_database_engine_spark.operators.similarity import (
        _ANN_PLANES, _NEARDUP_PLANES, _dlit)

    con = duckdb.connect()
    for planes in (_ANN_PLANES, _NEARDUP_PLANES):
        for p in planes:
            lit = "[" + ", ".join(_dlit(x) for x in p) + "]"
            got = con.sql(f"SELECT {lit}::DOUBLE[]").fetchone()[0]
            assert list(got) == [float(x) for x in p]


def test_planes_json_literal_roundtrip_bitexact(spark):
    """The Spark side of the same trap: the fused plane-code folds
    take each plane set as ONE ``from_json`` literal, and every
    coefficient must parse back to the identical IEEE-754 double, or a
    near-zero projection could flip a sign bit against the DuckDB
    twin's ``_dlit`` literals."""
    from pyspark.sql import functions as F
    from sql_database_engine_spark.operators.similarity import (
        _ANN_PLANES, _NEARDUP_PLANES, _planes_literal)

    for planes in (_ANN_PLANES, _NEARDUP_PLANES):
        got = spark.range(1).select(
            F.expr(_planes_literal(planes)).alias("p")).collect()[0]["p"]
        assert [list(r) for r in got] == [[float(x) for x in p]
                                          for p in planes]


def test_ann_bucket_codes_agree_cross_engine(spark):
    """Spark `_ann_bucket_code` and DuckDB `_ann_bucket_sql` assign
    every corpus vector the same 8-bit bucket."""
    from pyspark.sql import functions as F
    from sql_database_engine_spark.catalog import Catalog
    from sql_database_engine_spark.operators.similarity import (
        _ann_bucket_code, _ann_bucket_sql)

    emb = Catalog(spark, SF_ORACLE).embeddings
    got = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id",
            _ann_bucket_code("embedding").alias("b")).collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS "
            f"SELECT * FROM '{SF_ORACLE}/embeddings.parquet'")
    want = dict(con.sql(
        f"SELECT vec_id, {_ann_bucket_sql()} FROM embeddings").fetchall())
    assert got == want


def test_cms_cells_agree_cross_engine(spark):
    """The md5 cell hash family produces identical (row, cell) pairs
    in both engines over the real token population."""
    from pyspark.sql import functions as F
    from sql_database_engine_spark.catalog import Catalog
    from sql_database_engine_spark.operators.sketches import (
        _cells, _cells_sql)

    d = Catalog(spark, SF_ORACLE).documents
    toks = (d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
            .distinct())
    got = sorted(
        (r["tok"], r["rc"]["row"], r["rc"]["cell"])
        for r in toks.select("tok",
                             F.explode(_cells(F.col("tok"))).alias("rc"))
        .collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{SF_ORACLE}/documents.parquet'")
    want = sorted(con.sql(f"""
        WITH toks AS (
            SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
        SELECT tok, h.row, h.cell
        FROM toks, LATERAL ({_cells_sql('tok')}) AS h
    """).fetchall())
    assert got == want


def test_cms_collision_regime_not_vacuous(spark):
    """A width-32 sketch over the real corpus MUST overcount some
    probed token (collisions exist by pigeonhole at this width), the
    min-over-rows estimate must improve on the worst single row, and
    no estimate may undercount — the three properties that are
    invisible at the default width where estimates are exact."""
    from pyspark.sql import functions as F
    from sql_database_engine_spark.catalog import Catalog
    from sql_database_engine_spark.operators.sketches import _cells

    WIDTH = 32
    d = Catalog(spark, SF_ORACLE).documents
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    cells = (toks.select(F.explode(
        _cells(F.col("tok"), width=WIDTH)).alias("rc"))
        .groupBy(F.col("rc.row").alias("row"),
                 F.col("rc.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n")))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_exact"))
    probes = (exact.select("tok", "n_exact",
                           F.explode(_cells(F.col("tok"),
                                            width=WIDTH)).alias("rc"))
              .select("tok", "n_exact",
                      F.col("rc.row").alias("row"),
                      F.col("rc.cell").alias("cell")))
    est = (probes.join(F.broadcast(cells), ["row", "cell"])
           .groupBy("tok", "n_exact")
           .agg(F.min("n").alias("n_est"), F.max("n").alias("n_worst"))
           .collect())
    assert est, "no tokens probed"
    assert all(r["n_est"] >= r["n_exact"] for r in est), \
        "CMS undercounted — structurally impossible, hash layer broken"
    overcounts = [r for r in est if r["n_est"] > r["n_exact"]]
    assert overcounts, (
        f"width-{WIDTH} sketch produced zero collisions over "
        f"{len(est)} tokens — the collision regime is still vacuous")
    assert any(r["n_est"] < r["n_worst"] for r in est), (
        "min-over-rows never beat the worst row — the d-row min "
        "machinery is doing nothing")


def test_winnow_oracle_agrees_on_adversarial_corpus():
    """Kernel-vs-oracle agreement on a synthetic corpus built to hit
    every branch the shipped corpora leave vacuous (min text ~44
    bytes there):

    - docs shorter than K bytes (no rows at all),
    - docs with 1..WIN-1 k-grams (the leftmost-argmin UNION branch),
    - boilerplate runs of one repeated byte (maximal hash ties — the
      robust rule's whole point),
    - periodic text (equal-hash positions recurring at stride),
    - multi-byte UTF-8 (encode() byte-level agreement).

    No Spark needed: the mapInPandas kernel runs locally and the
    oracle runs on a DuckDB view over the same frame."""
    import pandas as pd

    from sql_database_engine_spark.operators.text import (
        _WINNOW_K, _WINNOW_WIN, _winnow_kernel, _winnow_oracle_sql)

    docs = {
        1: "x" * (_WINNOW_K - 1),            # < K bytes: no rows
        2: "abcdefgh",                       # exactly K: 1 k-gram
        3: "abcdefghij",                     # K+2: 3 k-grams < WIN
        4: "a" * 50,                         # one long tie run
        5: "ab" * 30,                        # period-2 ties
        6: "the quick brown fox jumps over the lazy dog " * 3,
        7: "héllo wörld — ünïcode bytes mültiply " * 2,  # multi-byte
        8: "abcabcabcabcabcabcabcabcabc",    # period-3 ties
    }
    pdf = pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})

    winnow = _winnow_kernel()
    out = pd.concat(list(winnow([pdf])))
    truth = sorted(map(tuple, out.itertuples(index=False)))

    con = duckdb.connect()
    con.register("docs_py", pdf)
    con.sql("CREATE VIEW documents AS SELECT * FROM docs_py")
    got = sorted((int(a), int(b), int(c)) for a, b, c in
                 con.sql(_winnow_oracle_sql()).fetchall())
    assert truth == got

    by_doc = {t[0] for t in truth}
    assert 1 not in by_doc                     # sub-K branch
    assert {2, 3} <= by_doc                    # short-doc UNION branch
    # boilerplate density: the robust rule must pick ~1 per WIN
    # windows on an all-ties run, not one per position.
    n4 = sum(1 for t in truth if t[0] == 4)
    n_windows4 = (50 - _WINNOW_K + 1) - _WINNOW_WIN + 1
    assert n4 <= n_windows4 // _WINNOW_WIN + 1
