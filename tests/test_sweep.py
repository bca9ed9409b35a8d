"""The replica-differential harness (tools/sweep.py) checked on its own:
the comparator every differential test shares, every replica kind's
staging plus perturbation proof at sf0.001, and the exact-Jaccard pair
queries on the ``salt:10`` replica."""

from __future__ import annotations

import pytest
import sweep

from .conftest import SF_SMOKE


def test_comparator_canonical_forms_and_column_order(spark):
    import duckdb

    assert sweep.canon(None) == "<NULL>"
    assert sweep.canon(float("nan")) == "NaN"
    assert sweep.canon(-0.0) == "-0.0" != sweep.canon(0.0) == "0.0"
    # shortest round-trip repr: one ulp apart stays apart
    assert sweep.canon(0.1 + 0.2) == "0.30000000000000004"
    assert sweep.canon(0.3) == "0.3"
    assert sweep.canon(1e16) == "1e+16"
    assert sweep.canon(7) == "7"

    rows = [(1, "x", None), (2, "y", 0.5)]
    ab = spark.createDataFrame(rows, "a long, b string, c double")
    assert (sweep.spark_rows(ab)
            == sweep.spark_rows(ab.select("c", "a", "b"))
            == ([("1", "x", "<NULL>"), ("2", "y", "0.5")], ["a", "b", "c"]))

    con = duckdb.connect()
    assert (sweep.duck_rows(con, "SELECT 2 AS b, 1 AS a")
            == sweep.duck_rows(con, "SELECT 1 AS a, 2 AS b")
            == ([("1", "2")], ["a", "b"]))
    con.close()


@pytest.mark.parametrize("kind", list(sweep.KINDS))
def test_kind_stages_a_perturbed_replica(spark, tmp_path, monkeypatch, kind):
    from sql_database_engine_spark import scratch

    monkeypatch.setattr(scratch, "SCRATCH_ROOT", str(tmp_path))
    replica, proof = sweep.stage_replica(kind, SF_SMOKE, spark)
    assert sweep.KINDS[kind].perturbed(proof), proof
    if replica != SF_SMOKE:
        assert replica.startswith(str(tmp_path))


@pytest.mark.parametrize("name", ["ngram_jaccard_neardup",
                                  "setsim_prefix_join"])
def test_salt_replica_repeats_base_pairs_per_replica(spark, tmp_path,
                                                     monkeypatch, name):
    """Exact bigram Jaccard is 0 across the salt replicas' disjoint
    vocabularies, so on ``salt:10`` each pair query returns exactly the
    base result's pairs once per replica doc-id offset: no pair crosses
    replicas and near-dup density stays 1.000."""
    import duckdb

    from sql_database_engine_spark import operators, scratch

    monkeypatch.setattr(scratch, "SCRATCH_ROOT", str(tmp_path))
    replica, _ = sweep.stage_replica("salt:10", SF_SMOKE)
    offset = duckdb.sql(f"SELECT max(doc_id) + 1 FROM read_parquet("
                        f"'{SF_SMOKE}/documents.parquet')").fetchone()[0]
    operators.load_all()
    q = operators.QUERIES[name]
    base = q(spark, SF_SMOKE)
    cols = base.columns
    a, b = cols.index("doc_a"), cols.index("doc_b")

    def shifted(row, i):
        r = list(row)
        r[a] += i * offset
        r[b] += i * offset
        return tuple(r)
    base_rows = [tuple(r) for r in base.collect()]
    assert base_rows
    got = sorted(tuple(r) for r in q(spark, replica).select(*cols).collect())
    assert got == sorted(shifted(r, i) for r in base_rows for i in range(10))
