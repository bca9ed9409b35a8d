"""Regression pins for the null_sweep defect classes.

The shipped fixtures contain zero NULLs, so the ordinary oracle
differential can never exercise a null code path (the round-5
null_sweep audit found 42 measures-tier + 34 payload-tier divergences
that way). This module keeps one representative query per FIXED CLASS
permanently under test against the null-injected replica — the
registry-wide sweep remains `tools/sweep.py --replica null:full`; these
pins make the classes fail fast in `pytest` between audit runs.

Classes covered (one query each):
- explicit NULLS LAST window ordering ................ window_rank
- null-skipping order statistics ..................... percentile_cont_interpolated
- null-safe group re-join ............................ winsorize_event_values
- label-null coalesce in metric denominators ......... score_auc_exact
- complement region split (IVM) ...................... ivm_append_join_view
- struct-carry point-in-time versions ................ scd2_point_in_time_join
- 3VL neither-bucket counting ........................ q12_priority_by_linestatus
- NULL map keys / value flattening ................... map_column_ops
- concat_ws n-gram collapse .......................... event_path_trigrams
- observed-vector contract (similarity family) ....... ann_lsh_topk
- entity-key contract (as-of joins) .................. events_asof_join
- missing-text contract (curation gates) ............. curation_gate_report
- pandas-kernel null-in/null-out ..................... pandas_udf_token_count
- stateful-kernel NaN/None handling .................. stream_user_profiles

Two further pins (round 10, ADVICE r9) synthesize their own parquet
fixtures instead of using the injected replica, because the replica
cannot guarantee their trigger shapes: an all-NULL 7-day window run
(window_rolling_median_7d) and NULL-ts purchases straddling the SCD2
merge split (scd2_merge_batch).
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

PINNED = [
    "window_rank",
    "percentile_cont_interpolated",
    "winsorize_event_values",
    "score_auc_exact",
    "ivm_append_join_view",
    "scd2_point_in_time_join",
    "q12_priority_by_linestatus",
    "map_column_ops",
    "event_path_trigrams",
    "ann_lsh_topk",
    "events_asof_join",
    "curation_gate_report",
    "pandas_udf_token_count",
    "stream_user_profiles",
]


@pytest.fixture(scope="module")
def replica():
    """Full-tier null-injected replica (staged once, reused)."""
    from sweep import KINDS, stage_replica

    path, proof = stage_replica("null:full", SF)
    # Vacuity guard: the audit-of-the-audit rule — every injected
    # column must actually contain nulls and row counts must match.
    assert KINDS["null:full"].perturbed(proof), proof
    return path


@pytest.fixture(scope="module")
def duck_replica(replica):
    import duckdb

    from sql_database_engine_spark.catalog import register_duck_views

    con = duckdb.connect()
    register_duck_views(con, replica)
    yield con
    con.close()


@pytest.mark.parametrize("name", PINNED)
def test_null_class_pin(spark, duck_replica, replica, name):
    from sweep import duck_rows, spark_rows, value_hash

    from sql_database_engine_spark import operators
    operators.load_all()
    a, a_cols = spark_rows(operators.QUERIES[name](spark, replica))
    if name not in operators.ORACLES:
        # rows-only pins assert executability on null-bearing data
        return
    b, b_cols = duck_rows(duck_replica, operators.ORACLES[name])
    assert a_cols == b_cols, f"{name}: column mismatch"
    assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)} rows"
    assert value_hash(a) == value_hash(b), f"{name}: value hash mismatch"


def _write_parquet(pdf, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   str(path))


def test_rolling_median_all_null_frame(spark, tmp_path):
    """ADVICE r9 (medium): a 7-frame whose every value is NULL must
    yield a NULL median7 — matching DuckDB's out-of-range list index —
    not Spark's INVALID_INDEX_OF_ZERO crash from element_at(arr, 0).
    The shipped fixtures and the null-injected replica cannot
    guarantee 7 CONSECUTIVE all-null-price days, so this synthesizes
    them directly."""
    import duckdb
    import pandas as pd

    from sweep import duck_rows, spark_rows, value_hash

    from sql_database_engine_spark import operators
    operators.load_all()

    days = ([(f"1995-01-{i + 1:02d}", None) for i in range(10)]
            + [(f"1995-02-{i + 1:02d}", 1000.0 * (i + 1))
               for i in range(5)])
    pdf = pd.DataFrame(
        {"o_orderkey": range(1, len(days) + 1),
         "o_custkey": [1] * len(days),
         "o_orderstatus": ["O"] * len(days),
         "o_totalprice": [p for _, p in days],
         "o_orderdate": pd.to_datetime([d for d, _ in days])
         .astype("datetime64[us]"),
         "o_orderpriority": ["1-URGENT"] * len(days)})
    _write_parquet(pdf, tmp_path / "orders.parquet")

    df = operators.QUERIES["window_rolling_median_7d"](
        spark, str(tmp_path))
    a, a_cols = spark_rows(df)  # must not raise INVALID_INDEX_OF_ZERO
    assert sum(r[a_cols.index("median7")] == "<NULL>" for r in a) >= 4, (
        "expected all-NULL frames to produce NULL medians")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"read_parquet('{tmp_path / 'orders.parquet'}')")
    b, b_cols = duck_rows(
        con, operators.ORACLES["window_rolling_median_7d"])
    con.close()
    assert a_cols == b_cols
    assert len(a) == len(b)
    assert value_hash(a) == value_hash(b)


def test_scd2_merge_batch_null_ts_symmetric(spark, tmp_path):
    """ADVICE r9 (low): purchases with NULL ts were dropped by the
    Spark lane split (NULL is neither < split nor >= split) while the
    oracle's full-history rebuild windowed them NULLS LAST. Both sides
    now exclude them symmetrically — a NULL valid_from has no place on
    an SCD2 validity timeline. Synthetic events: per-user purchase
    chains straddling the merge split, plus NULL-ts rows that must
    influence NEITHER side."""
    import duckdb
    import pandas as pd

    from sweep import duck_rows, spark_rows, value_hash
    from sql_database_engine_spark import operators
    operators.load_all()

    rows = []
    eid = 0
    for uid in range(1, 6):
        for k, day in enumerate(("2024-01-10", "2024-01-20",
                                 "2024-02-05", "2024-02-20")):
            eid += 1
            rows.append((eid, pd.Timestamp(day), uid, "purchase",
                         float(100 * uid + k), "{}"))
    for uid in (2, 4):  # the ADVICE scenario: NULL ts purchases
        eid += 1
        rows.append((eid, pd.NaT, uid, "purchase", 999.0, "{}"))
    eid += 1
    rows.append((eid, pd.Timestamp("2024-01-15"), 1, "click", 1.0, "{}"))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type", "value", "props"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    _write_parquet(pdf, tmp_path / "events.parquet")

    a, a_cols = spark_rows(
        operators.QUERIES["scd2_merge_batch"](spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path / 'events.parquet'}')")
    b, b_cols = duck_rows(con, operators.ORACLES["scd2_merge_batch"])
    con.close()
    assert a_cols == b_cols
    assert len(a) == len(b) == 20, "NULL-ts rows must appear on NEITHER side"
    assert value_hash(a) == value_hash(b)
