"""Empty-input semantics pins — one representative per class fixed in
the round-5 empty_sweep audit (now ``tools/sweep.py --replica
empty:facts|empty:all``; SWEEPS/r5d_*).

At 100 TB zero-row inputs are routine (partition-pruned-to-nothing
scans, beyond-range filters, empty ingest batches), and the audit
found four defect classes no populated-fixture gate could see:
staged artifacts unreadable without data files (schema inference),
driver-side None seeds, Spark's ANSI deviation on empty grouping
sets, and contract aggregates that were not total over the empty
relation. These pins hold the fixes; full-registry coverage is the
committed sweep (402/402 on both tiers).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from .conftest import SF_SMOKE

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
FACTS = {"orders", "lineitem", "events", "documents", "embeddings"}


@pytest.fixture(scope="module")
def empty_facts_dir(tmp_path_factory):
    """Schema-exact replica of SF_SMOKE with zero-row fact tables
    (pyarrow slice keeps physical encodings byte-for-byte)."""
    d = str(tmp_path_factory.mktemp("empty_facts"))
    for t in TABLES:
        tbl = pq.read_table(os.path.join(SF_SMOKE, t + ".parquet"))
        if t in FACTS:
            tbl = tbl.slice(0, 0)
        pq.write_table(tbl, os.path.join(d, t + ".parquet"))
    return d


@pytest.fixture(scope="module")
def single_row_dir(tmp_path_factory):
    """Every table truncated to exactly ONE row — the n-1=0 /
    zero-variance / one-class boundary the empty tiers short-circuit
    past."""
    d = str(tmp_path_factory.mktemp("single_row"))
    for t in TABLES:
        tbl = pq.read_table(os.path.join(SF_SMOKE, t + ".parquet"))
        pq.write_table(tbl.slice(0, 1), os.path.join(d, t + ".parquet"))
    return d


def _rows(spark, name, sf_dir):
    from sql_database_engine_spark import operators
    operators.load_all()
    return operators.QUERIES[name](spark, sf_dir).collect()


def test_rollup_emits_global_row_over_empty_input(spark, empty_facts_dir):
    """ANSI: the () grouping set is a global aggregate — one row with
    COUNT 0 / SUM NULL even over zero input rows (Spark's bare
    Expand+HashAggregate emits nothing; the phantom-row plan fixes
    it without a second scan)."""
    rows = _rows(spark, "agg_rollup", empty_facts_dir)
    assert len(rows) == 1
    r = rows[0]
    assert (r["gid"], r["n"], r["revenue"]) == (3, 0, None)
    assert r["l_returnflag"] is None and r["l_linestatus"] is None


def test_grouping_sets_emit_global_row_over_empty_input(
        spark, empty_facts_dir):
    rows = _rows(spark, "grouping_sets_explicit", empty_facts_dir)
    assert [(r["gid"], r["revenue"]) for r in rows] == [(3, None)]


def test_rollup_phantom_invisible_on_populated_input(spark):
    """The phantom row must change NOTHING on populated data: same
    groups, same totals as a bare rollup."""
    from pyspark.sql import functions as F

    from sql_database_engine_spark import operators
    operators.load_all()
    out = {(r["l_returnflag"], r["l_linestatus"], r["gid"]):
           (r["n"], r["revenue"])
           for r in _rows(spark, "agg_rollup", SF_SMOKE)}
    from sql_database_engine_spark.catalog import Catalog
    li = Catalog(spark, SF_SMOKE).lineitem
    bare = li.rollup("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag") * 2
         + F.grouping("l_linestatus")).cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n"))
    ref = {(r["l_returnflag"], r["l_linestatus"], r["gid"]): r["n"]
           for r in bare.collect()}
    assert set(out) == set(ref)
    assert all(out[k][0] == ref[k] for k in ref)


def test_contract_counts_are_zero_not_null_over_empty(
        spark, empty_facts_dir):
    """Audit/contract aggregates are COUNTS: 0 over an empty batch,
    never a NULL SUM."""
    for r in _rows(spark, "dq_constraint_audit", empty_facts_dir):
        assert r["n_bad"] is not None, r["check"]
    olr = _rows(spark, "order_line_reconciliation", empty_facts_dir)[0]
    assert (olr["n_orders"], olr["n_exact"], olr["n_within_dollar"],
            olr["n_beyond_dollar"]) == (0, 0, 0, 0)
    assert olr["max_diff_cents"] is None  # max IS undefined on empty


def test_no_pick_rows_from_empty_candidate_sets(spark, empty_facts_dir):
    """Driver-side argmax/greedy loops emit NO row when there is
    nothing to pick — not a row of NULLs."""
    assert _rows(spark, "mmr_diversified_topk", empty_facts_dir) == []
    assert _rows(spark, "concurrent_sessions_peak", empty_facts_dir) == []


def test_date_spine_is_empty_over_empty_orders(spark, empty_facts_dir):
    """With no dated order the span is NULL: the spine is empty, as in
    DuckDB, and the span-cap guard does not raise on it."""
    assert _rows(spark, "sql_recursive_date_spine_gapfill",
                 empty_facts_dir) == []


def test_ansi_ratio_guards_over_empty(spark, empty_facts_dir):
    """Ratios over empty denominators are NULL (DuckDB's x/0), not an
    ANSI DIVIDE_BY_ZERO crash."""
    rows = _rows(spark, "dq_null_ratio_profile", empty_facts_dir)
    assert [r["null_ratio"] for r in rows] == [None, None, None]
    mq = _rows(spark, "minhash_quality_eval", empty_facts_dir)[0]
    assert (mq["n_truth"], mq["n_lsh"], mq["n_tp"]) == (0, 0, 0)
    assert mq["recall_micros"] is None


def test_staged_artifacts_total_over_empty_source(spark, empty_facts_dir):
    """Staged layouts (bucketed facts, clustered copy, IVF index)
    must build AND read back over an empty source — an empty
    DataFrame writes zero parquet data files, so any reader that
    relies on schema inference throws UNABLE_TO_INFER_SCHEMA."""
    rows = _rows(spark, "clustered_range_scan", empty_facts_dir)
    assert [(r["n_lines"], r["revenue"]) for r in rows] == [(0, None)]
    assert _rows(spark, "ann_ivf_staged_topk", empty_facts_dir) == []
    bkt = _rows(spark, "agg_bucketed_no_shuffle", empty_facts_dir)
    assert bkt == []


def test_compact_table_is_noop_on_dataless_dir(spark, tmp_path):
    from sql_database_engine_spark.engine import Engine

    d = str(tmp_path / "empty_tbl")
    os.makedirs(d)
    open(os.path.join(d, "_SUCCESS"), "w").close()
    assert Engine(spark, SF_SMOKE).compact_table(d, target_files=2) == 0


def test_quantize_handles_null_stats():
    """Hilbert/Z-order quantization over an empty (or all-null)
    column sees NULL min/max — must be the constant-column cell, not
    a None comparison crash."""
    from sql_database_engine_spark.sources.clustering import _quantize
    from pyspark.sql import functions as F

    col = _quantize(F.lit(None), None, None, 8)
    assert col is not None  # Column built without raising


def test_undefined_statistics_are_null_at_n1(spark, single_row_dir):
    """Sample variance, correlation, OLS trend, and z-scores are
    undefined over a single observation (n-1 = 0, zero variance) —
    NULL like DuckDB's x/0, never an ANSI DIVIDE_BY_ZERO throw."""
    v = _rows(spark, "agg_variance_exact", single_row_dir)
    assert [(r["n"], r["var_qty"], r["stddev_qty"]) for r in v] \
        == [(1, None, None)]
    ols = _rows(spark, "trend_daily_revenue_ols", single_row_dir)[0]
    assert (ols["n_days"], ols["slope_per_day"], ols["r_squared"]) \
        == (1, None, None)
    z = _rows(spark, "zscore_event_values", single_row_dir)
    assert [r["z"] for r in z] == [None]
    corr = _rows(spark, "corr_value_hour_exact", single_row_dir)[0]
    assert corr["corr_value_hour"] is None


def test_auc_is_null_with_one_class(spark, single_row_dir):
    """AUC needs both classes; a one-class score set yields NULL
    (DuckDB's // 0), not a crash — the single-label ingest batch
    every eval pipeline eventually receives."""
    r = _rows(spark, "score_auc_exact", single_row_dir)[0]
    assert (r["n_pos"] == 0 or r["n_neg"] == 0)
    assert r["auc_micros"] is None


def test_quant_clamps_zero_range_dimension(spark, single_row_dir):
    """A constant dimension (single-vector corpus: mx = mn) has no
    quantization range; both engines' greatest() clamps the NULL
    ratio to code 0 instead of throwing."""
    rows = _rows(spark, "embedding_int8_quant_error", single_row_dir)
    assert len(rows) == 1
    assert rows[0]["n_saturated"] == rows[0]["n_dims"]  # all code 0


def test_rank_contract_tolerance_floors_at_one_position(
        spark, single_row_dir):
    """The KLL rank contract's 5% tolerance is unattainable below
    n = 20 (rank error is integral); the floor of one rank position
    keeps the contract meaningful at every n."""
    r = _rows(spark, "kll_merge_quantile_contract", single_row_dir)[0]
    assert (r["n_values"], r["p50_rank_ok"], r["p90_rank_ok"]) == (1, 1, 1)


def test_language_mix_tvd_is_null_on_one_document(spark, single_row_dir):
    """A one-document corpus leaves the second half empty: the TVD has
    no distribution to compare against, so it is NULL — not an ANSI
    DIVIDE_BY_ZERO."""
    r = _rows(spark, "docs_language_mix_shift", single_row_dir)[0]
    assert (r["docs_first"], r["docs_second"], r["tvd_num"]) == (1, 0, 0)
    assert r["tvd"] is None
