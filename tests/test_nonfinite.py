"""Positive control for ``dq_nonfinite_audit`` (the vacuous-branch
lesson): the shipped fixtures are all-finite at every SF, so on clean
data the audit proves only the zero path. This test stages a replica
with NaN / +Inf / -Inf injected into every audited lane by a
deterministic md5 rule (same cells every run, both engines see the
same files) and requires (a) every audited source reports a NONZERO
count in every non-finite category, and (b) Spark and DuckDB agree on
the replica bit-for-bit — the same differential contract the driver
enforces, exercised in the regime the fixtures never reach.
"""

from __future__ import annotations

import os

import pytest
from sweep import duck_rows, spark_rows

from tests.conftest import SF_ORACLE

from sql_database_engine_spark.catalog import (
    TABLE_NAMES as TABLES, register_duck_views)

#: table -> (pk expr, [double lanes to poison]). The md5-hex rule maps
#: ~3/16 of rows to NaN, ~2/16 to +Inf, ~2/16 to -Inf per lane.
POISON = {
    "events": ("event_id", ["value"]),
    "orders": ("o_orderkey", ["o_totalprice"]),
    "lineitem": ("concat(l_orderkey, '-', l_linenumber)",
                 ["l_extendedprice", "l_discount"]),
}


def _stage_replica(tmp_path) -> str:
    import duckdb

    replica = str(tmp_path / "nonfinite_replica")
    os.makedirs(replica, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(SF_ORACLE, t + ".parquet")
        dst = os.path.join(replica, t + ".parquet")
        pk, cols = POISON.get(t, (None, []))
        desc = con.execute(
            f"SELECT * FROM read_parquet('{src}') LIMIT 0").description
        sel = []
        for name, *_ in desc:
            if name in cols:
                h = (f"substr(md5(concat(({pk})::VARCHAR, '|',"
                     f" '{name}')), 1, 1)")
                sel.append(
                    f"CASE WHEN {h} < '3' THEN 'nan'::DOUBLE "
                    f"WHEN {h} < '5' THEN 'infinity'::DOUBLE "
                    f"WHEN {h} < '7' THEN '-infinity'::DOUBLE "
                    f'ELSE "{name}" END AS "{name}"')
            elif t == "embeddings" and name == "embedding":
                # poison one lane of ~30% of vectors, cycling the
                # three non-finite values by vec_id
                sel.append(
                    "CASE WHEN vec_id % 10 < 3 THEN "
                    "list_transform(embedding, x -> CASE WHEN x = embedding[1] "
                    "THEN CASE vec_id % 3 WHEN 0 THEN 'nan'::FLOAT "
                    "WHEN 1 THEN 'infinity'::FLOAT "
                    "ELSE '-infinity'::FLOAT END ELSE x END) "
                    'ELSE embedding END AS "embedding"')
            else:
                sel.append(f'"{name}"')
        con.execute(
            f"COPY (SELECT {', '.join(sel)} FROM read_parquet('{src}'))"
            f" TO '{dst}' (FORMAT PARQUET)")
    con.close()
    return replica


def test_nonfinite_audit_counts_and_cross_engine_agreement(spark, tmp_path):
    import duckdb

    from sql_database_engine_spark import operators
    operators.load_all()

    replica = _stage_replica(tmp_path)
    a, _ = spark_rows(operators.QUERIES["dq_nonfinite_audit"](spark, replica))

    con = duckdb.connect()
    register_duck_views(con, replica)
    b, _ = duck_rows(con, operators.ORACLES["dq_nonfinite_audit"])
    con.close()

    assert a == b, f"engines diverge on poisoned replica:\n{a}\n{b}"

    # non-vacuity: every audited source saw every non-finite kind
    by_source = {row[4]: row for row in a}  # cols sorted: n_nan,
    # n_neg_inf, n_pos_inf, n_rows, source
    assert set(by_source) == {
        "events.value", "orders.o_totalprice",
        "lineitem.l_extendedprice", "lineitem.l_discount",
        "embeddings.embedding"}
    for source, row in by_source.items():
        n_nan, n_neg, n_pos, n_rows = (int(row[0]), int(row[1]),
                                       int(row[2]), int(row[3]))
        assert n_nan > 0 and n_pos > 0 and n_neg > 0, (
            f"{source}: poisoning failed to reach a branch: {row}")
        assert n_nan + n_pos + n_neg < n_rows, (
            f"{source}: poisoning overwhelmed the lane: {row}")


def test_money_lane_contract_throws_on_nonfinite(spark, tmp_path):
    """The flip side of the audit's docstring: the exact-integer
    money lanes THROW on non-finite input under ANSI rather than
    poisoning an aggregate — pin that this is a loud failure, not a
    silent one, so the audit-first contract is real."""
    from pyspark.sql import functions as F

    from sql_database_engine_spark.functions.exact import cents
    from sql_database_engine_spark.session import tune
    tune(spark)
    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan"))], "id long, value double")
    with pytest.raises(Exception, match="(?i)cast|invalid|overflow"):
        df.select(F.sum(cents(F.col("value")))).collect()
