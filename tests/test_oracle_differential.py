"""Oracle-differential tests: every registered query vs its DuckDB twin.

Mirrors the driver's correctness gate (row count + schema + order-
insensitive value comparison) so regressions surface locally before a
round's CORRECTNESS_r{N}.json does. Comparison is strict string
equality per cell after canonical formatting — floats must match
bit-for-bit, which is the engine's stated determinism contract.
"""

from __future__ import annotations

import pytest
from sweep import duck_rows, spark_rows

from .conftest import SF_ORACLE


def _all_queries():
    from sql_database_engine_spark import operators
    operators.load_all()
    return operators.QUERIES, operators.ORACLES


QUERIES, ORACLES = _all_queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(name, spark, duck):
    q = QUERIES[name]
    df = q(spark, SF_ORACLE)
    expected, oracle_cols = duck_rows(duck, ORACLES[name])
    assert sorted(df.columns) == oracle_cols, (
        f"{name}: column mismatch spark={sorted(df.columns)} duck={oracle_cols}")
    actual, _ = spark_rows(df)
    assert len(actual) == len(expected), (
        f"{name}: row count {len(actual)} != {len(expected)}")
    mismatches = [(a, e) for a, e in zip(actual, expected) if a != e]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatching rows; first 3: {mismatches[:3]}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_runs(name, spark):
    """Queries without an oracle must still run and have a stable schema."""
    df = QUERIES[name](spark, SF_ORACLE)
    assert df.columns
    df.collect()  # must execute without error
