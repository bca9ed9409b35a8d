"""A zero-norm embedding against the DuckDB twin.

The shipped fixtures hold no zero vector, so no sweep kind reaches the
case where the cosine's denominator is 0: Spark scores it NaN (IEEE
0/0) and DuckDB's ``list_cosine_similarity`` scores it -1.0. Spark
orders NaN above every number, so ``NaN >= threshold`` is true and a
NaN tops a descending ranking; an operator that thresholds or ranks on
the score must drop NaN to agree. ``cosine_topk_bruteforce`` is the
ranking site; the two neardup queries are the threshold sites.
"""

from __future__ import annotations

import os

import pytest
from sweep import duck_rows, spark_rows, value_hash

from .conftest import SF_SMOKE

#: the vector zeroed in the replica
ZERO_ID = 5


def _zeroed_replica(tmp_path) -> str:
    import duckdb

    replica = str(tmp_path / "zero_vector")
    os.makedirs(replica)
    src = os.path.join(SF_SMOKE, "embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * REPLACE (CASE WHEN vec_id = {ZERO_ID} THEN "
        f"list_transform(embedding, x -> 0::FLOAT) ELSE embedding END "
        f"AS embedding) FROM read_parquet('{src}')) "
        f"TO '{replica}/embeddings.parquet' (FORMAT PARQUET)")
    con.close()
    return replica


@pytest.mark.parametrize(
    "name", ["cosine_topk_bruteforce", "embedding_neardup_pairs",
             "neardup_cluster_assignment"])
def test_neardup_drops_zero_vector_like_twin(spark, tmp_path, name):
    import duckdb

    from sql_database_engine_spark import operators
    from sql_database_engine_spark.tables import register_duck_views
    operators.load_all()
    replica = _zeroed_replica(tmp_path)
    con = duckdb.connect()
    register_duck_views(con, replica, ("embeddings",))
    # the perturbation is real: the replica holds exactly one zero vector
    assert con.sql("SELECT list_sort(list(vec_id)) FROM embeddings WHERE "
                   "list_max(list_transform(embedding, x -> abs(x))) = 0"
                   ).fetchone()[0] == [ZERO_ID]
    want = duck_rows(con, operators.ORACLES[name])
    con.close()
    got = spark_rows(operators.QUERIES[name](spark, replica))
    assert got[1] == want[1] and len(got[0]) == len(want[0])
    assert value_hash(got[0]) == value_hash(want[0])
