#!/usr/bin/env python
"""Replica-differential sweep: the driver's correctness gate, run over
replicas of the testdata in regimes the shipped fixtures never reach.

The gate hash-compares every registered query's Spark result against
its DuckDB oracle on the shipped fixtures. This tool runs the same
comparison over one REPLICA kind per run, chosen from :data:`KINDS`
(``--replica``). Each kind holds

- its staging: a per-table DuckDB ``COPY (SELECT ...)`` rewrite of the
  source files, a Spark repartition write (``shape``), or none
  (``identity``, ``layout``);
- its perturbation proof (the audit-of-the-audit rule): the sweep
  refuses to run — exit 2, summary ``error: VACUOUS`` — unless the
  replica demonstrably differs from the source in the way the kind
  claims, because an invariance audit over an unperturbed replica
  passes vacuously;
- its reference side: the DuckDB oracle over the same replica
  (``oracle``), the same Spark query over the source (``source``), or
  the same query under layout A (``layout``);
- the reason the fixtures never exercise that regime (``why``).

Per query, both sides are canonicalized (:func:`canon`), sorted, and
sha256-hashed (:func:`value_hash`); a query PASSes when the sorted
column lists, row counts and hashes agree. Queries without an oracle
run Spark-side only on ``oracle`` kinds (RAN_ROWS_ONLY) and must not
raise; an ERROR on either side is a failure — every operator must be a
total function over every replica.

Round 4's sf0.1 sweep recorded one ``kcore_decomposition`` failure
whose detail was lost to output capture and never reproduced, so it
could never be closed. Results therefore STREAM to SWEEPS/{tag}.jsonl,
flushed and fsynced after every query, so a crash, a kill, or a lost
terminal never loses a failing diff. The first line is the
perturbation proof; every query line carries ``status``,
``spark_hash``/``oracle_hash`` (subject and reference side), row
counts, sorted columns and ``elapsed_s``, plus on a mismatch the
first 20 differing row pairs and up to 20 rows present on only one
side, or ``error`` on an exception. SWEEPS/{tag}_summary.json holds
the totals. Exit code: 2 if the proof is vacuous, 1 if any query
failed, else 0.

Usage (``--sf`` defaults to the catalog's testdata directory):
    python tools/sweep.py --replica null:full --sf <testdata>/sf0.001
    python tools/sweep.py --replica identity --tag r5_cert
    python tools/sweep.py --replica scale:10 --sf <testdata>/sf0.1
    python tools/sweep.py --replica tz:spring --only timezone_daily_rollup
    python tools/sweep.py --replica identity --prove-capture --only setop_except_all
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import sys
import time
from dataclasses import dataclass
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (ROOT, HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

from sql_database_engine_spark.scratch import (  # noqa: E402
    scratch_dir, source_fingerprint)
from sql_database_engine_spark.tables import (  # noqa: E402
    TABLE_NAMES as TABLES, register_duck_views)


# --- the comparator -------------------------------------------------------

def canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # shortest round-trip repr: bit-exact comparison
    return str(v)


def spark_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(canon(r[c]) for c in cols) for r in df.collect()), cols


def duck_rows(con, sql):
    res = con.sql(sql)
    cols = res.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = res.fetchall()
    return (sorted(tuple(canon(r[i]) for i in order) for r in rows),
            [cols[i] for i in order])


def dtype_asymmetries(sdf, con, sql):
    """The driver canonicalizes through PANDAS dtypes, and this
    harness's raw-Python canon() was provably blinder (VERDICT r6
    item 3: the HUGEINT bin column stringified identically here and
    hash-failed there). The ``identity`` sweep therefore also
    materializes both sides to pandas and compares per-column dtype
    FAMILIES via oracle_type_audit — a value-equal pair in a
    family-asymmetric column (int-vs-float, Decimal-vs-float) FAILS."""
    from oracle_type_audit import dtype_pairs

    return dtype_pairs(sdf.toPandas(), con.sql(sql).df())


def value_hash(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


# --- staging --------------------------------------------------------------

def _src(sf_dir: str, t: str) -> str:
    return os.path.join(sf_dir, t + ".parquet")


def _scalar(con, path: str, expr: str = "count(*)", where: str = ""):
    """One aggregate over a parquet file (default: its row count)."""
    return con.execute(f"SELECT {expr} FROM read_parquet('{path}')"
                       + (f" WHERE {where}" if where else "")).fetchone()[0]


def _rows(con, sf_dir: str, replica: str, t: str) -> dict:
    return {"rows_src": _scalar(con, _src(sf_dir, t)),
            "rows_dst": _scalar(con, _src(replica, t))}


def _select(src: str, cols: list[str], exprs: dict[str, str],
            suffix: str = "") -> str:
    """``SELECT`` over ``src`` with the columns in ``exprs`` rewritten
    and every other column copied as-is."""
    sel = ", ".join(f'{exprs[c]} AS "{c}"' if c in exprs else f'"{c}"'
                    for c in cols)
    return f"SELECT {sel} FROM read_parquet('{src}'){suffix}"


def _copy_stage(transform, prove):
    """Stage function for a DuckDB-rewritten single-file-per-table
    replica. ``transform(table, columns, src)`` returns the table's
    ``SELECT``; ``prove(con, sf_dir, replica)`` the proof dict. The
    replica directory is keyed on the statements themselves plus the
    source fingerprints, so an edited transform or regenerated
    testdata re-stages instead of reusing stale files."""
    def stage(sf_dir: str, spark=None, cpus=None) -> tuple[str, dict]:
        import duckdb

        con = duckdb.connect()
        try:
            selects = {}
            for t in TABLES:
                desc = con.execute(f"SELECT * FROM read_parquet("
                                   f"'{_src(sf_dir, t)}') LIMIT 0").description
                selects[t] = transform(t, [d[0] for d in desc],
                                       _src(sf_dir, t))
            replica = scratch_dir("replica", sf_dir, version="|".join(
                [*selects.values(),
                 *(source_fingerprint(sf_dir, t + ".parquet")
                   for t in TABLES)]))
            for t, sql in selects.items():
                marker = os.path.join(replica, f"_STAGED_{t}")
                if not os.path.exists(marker):
                    con.execute(f"COPY ({sql}) TO '{_src(replica, t)}'"
                                " (FORMAT PARQUET)")
                    open(marker, "w").close()
            return replica, prove(con, sf_dir, replica)
        finally:
            con.close()
    return stage


def _md5_flag(pk: str, col: str, width: int, below: str) -> str:
    """Engine-independent deterministic cell selector: the same
    (row, column) cells are chosen on every run and by every engine."""
    return (f"substr(md5(concat(({pk})::VARCHAR, '|', '{col}')),"
            f" 1, {width}) < '{below}'")


# null: table -> (pk expr seeding the md5 rule, [columns to null]). The
# pk must be non-null and unique per row so injection is a pure
# function of row identity. Primary/foreign keys stay non-null
# (referential structure is a property of upstream constraints, not
# luck); the ``full`` tier also nulls the big payload columns.
_NULL_MEASURES = {
    "customer": ("c_custkey", ["c_name", "c_acctbal", "c_mktsegment"]),
    "supplier": ("s_suppkey", ["s_name", "s_acctbal"]),
    "part": ("p_partkey",
             ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"]),
    "orders": ("o_orderkey",
               ["o_orderstatus", "o_totalprice", "o_orderdate",
                "o_orderpriority"]),
    "lineitem": ("concat(l_orderkey, '-', l_linenumber)",
                 ["l_quantity", "l_extendedprice", "l_discount",
                  "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"]),
    "events": ("event_id", ["event_type", "value", "props"]),
    "documents": ("doc_id", ["lang", "source", "n_chars"]),
    "embeddings": ("vec_id", ["label"]),
}
_NULL_PAYLOADS = {"documents": ["text"], "embeddings": ["embedding"],
                  "events": ["user_id"]}
_NULL_FULL = {t: (pk, cols + _NULL_PAYLOADS.get(t, []))
              for t, (pk, cols) in _NULL_MEASURES.items()}


def _null_kind(spec: dict) -> Callable:
    def transform(t, cols, src):
        pk, inject = spec.get(t, (None, []))
        # ~3.1% of rows, plus ALWAYS the min-pk row so even a 10-row
        # table deterministically exercises the null path in every
        # injected column.
        return _select(src, cols, {
            c: (f"CASE WHEN {_md5_flag(pk, c, 2, '08')}"
                f" OR ({pk})::VARCHAR = (SELECT min(({pk})::VARCHAR)"
                f" FROM read_parquet('{src}')) THEN NULL ELSE \"{c}\" END")
            for c in cols if c in inject})

    def prove(con, sf_dir, replica):
        return {t: {**_rows(con, sf_dir, replica, t),
                    "nulls": {c: _scalar(con, _src(replica, t),
                                        f'count(*) - count("{c}")')
                              for c in spec.get(t, (None, []))[1]}}
                for t in TABLES}
    return _copy_stage(transform, prove)


def _null_ok(proof: dict) -> bool:
    return all(p["rows_src"] == p["rows_dst"]
               and all(n > 0 for n in p["nulls"].values())
               for p in proof.values())


#: fact table -> its surrogate key. ``lineitem`` carries its order's
#: key, so a replicated order keeps its line items.
_FACT_KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey",
              "events": "event_id", "documents": "doc_id",
              "embeddings": "vec_id"}
_FACTS = tuple(_FACT_KEYS)


def _empty_kind(targets: dict[str, int]) -> Callable:
    """Tables in ``targets`` keep their first N rows; the rest copy
    as-is. A zero-row COPY still writes the full parquet schema."""
    def transform(t, cols, src):
        return _select(src, cols, {},
                       f" LIMIT {targets[t]}" if t in targets else "")

    def prove(con, sf_dir, replica):
        return {t: {**_rows(con, sf_dir, replica, t),
                    "target": targets.get(t)} for t in TABLES}
    return _copy_stage(transform, prove)


def _empty_ok(proof: dict) -> bool:
    return all(p["rows_dst"] == p["rows_src"] if p["target"] is None
               else (p["rows_dst"] == p["target"]
                     and p["rows_src"] > p["target"])
               for p in proof.values())


#: sign: table -> (pk expr seeding the md5 rule, [columns to sign-flip]).
_FLIP = {
    "orders": ("o_orderkey", ["o_totalprice"]),
    "lineitem": ("concat(l_orderkey, '-', l_linenumber)",
                 ["l_extendedprice"]),
    "events": ("event_id", ["value"]),
    "supplier": ("s_suppkey", ["s_acctbal"]),
}


def _sign_transform(t, cols, src):
    # 4/16 of the hex alphabet = 25% of rows flipped.
    pk, flip = _FLIP.get(t, (None, []))
    return _select(src, cols, {
        c: f'CASE WHEN {_md5_flag(pk, c, 1, "4")} THEN -"{c}" ELSE "{c}" END'
        for c in cols if c in flip})


def _sign_prove(con, sf_dir, replica):
    return {t: {**_rows(con, sf_dir, replica, t),
                "mins": {c: {"src_min": _scalar(con, _src(sf_dir, t),
                                               f'min("{c}")'),
                             "dst_min": _scalar(con, _src(replica, t),
                                               f'min("{c}")')}
                         for c in _FLIP.get(t, (None, []))[1]}}
            for t in TABLES}


def _sign_ok(proof: dict) -> bool:
    # supplier.s_acctbal ships negatives at most SFs already; the flip
    # must still leave a negative minimum there.
    return all(
        p["rows_src"] == p["rows_dst"]
        and all(m["dst_min"] is not None and m["dst_min"] < 0
                and (m["src_min"] is None or m["src_min"] >= 0
                     or t == "supplier")
                for m in p["mins"].values())
        for t, p in proof.items() if p["mins"])


def _tz_kind(tier: str, days: int, transition: str) -> Callable:
    def transform(t, cols, src):
        return _select(src, cols, {
            "ts": f'CAST("ts" AS TIMESTAMP) + INTERVAL {days} DAY'}
            if t == "events" else {})

    def prove(con, sf_dir, replica):
        con.execute("SET TimeZone='UTC'")
        n_day, n_offsets = con.execute(f"""
            SELECT
              count(*) FILTER (CAST(ts AS DATE) = DATE '{transition}'),
              count(DISTINCT
                CAST(CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC' AS TIMESTAMP)
                - CAST(timezone('America/New_York',
                                CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC')
                       AS TIMESTAMP))
            FROM read_parquet('{_src(replica, "events")}')
        """).fetchone()
        return {"events": {"rows_on_transition_day": n_day,
                           "distinct_ny_offsets": n_offsets,
                           "tier": tier, "shift_days": days}}
    return _copy_stage(transform, prove)


def _tz_ok(proof: dict) -> bool:
    p = proof["events"]
    return p["rows_on_transition_day"] > 0 and p["distinct_ny_offsets"] == 2


#: Appended to flagged docs: CJK (3-byte UTF-8), Greek (2-byte),
#: an e + U+0301 combining-accent sequence, and a non-BMP emoji
#: (4-byte).
_UNICODE_SUFFIX = " \u03b4ok \u4e2d\u6587\u30c6\u30b9\u30c8 cafe\u0301 \U0001f600ok"


def _unicode_transform(t, cols, src):
    aug = ("concat(replace(replace(text, 'a', 'ä'), 'e', 'é'),"
           f" '{_UNICODE_SUFFIX}')")
    return _select(src, cols, {
        "text": f"CASE WHEN {_md5_flag('doc_id', 'text', 1, '4')}"
                f" THEN {aug} ELSE text END"}
        if t == "documents" else {})


def _unicode_prove(con, sf_dir, replica):
    multibyte = "octet_length(encode(text)) > length(text)"
    docs = _src(replica, "documents")
    return {"documents": {
        "multibyte_rows": _scalar(con, docs, where=multibyte),
        "non_bmp_rows": _scalar(con, docs,
                               where="text LIKE '%\U0001f600%'"),
        "source_multibyte_rows": _scalar(con, _src(sf_dir, "documents"),
                                        where=multibyte)}}


def _unicode_ok(proof: dict) -> bool:
    p = proof["documents"]
    return (p["multibyte_rows"] > 0 and p["non_bmp_rows"] > 0
            and p["source_multibyte_rows"] == 0)


def _replicate_kind(factor: int, tables: tuple[str, ...],
                    exprs: dict[str, dict[str, str]],
                    scaled: dict[str, dict[str, str]],
                    zero: dict[str, dict[str, str]]) -> Callable:
    """``factor`` copies of each table in ``tables``; the rest copy
    as-is. Copy ``_rep`` (0 is the source) adds ``_rep`` times one past
    the largest source key of ``tables`` to every key, so the copies'
    keyspaces never collide; ``exprs[t]`` rewrites further columns of
    copy ``_rep``. Proof: each replicated table has exactly ``factor``
    times the source's rows, distinct keys and ``scaled[t]`` aggregates;
    every other table keeps its rows; each ``zero[t]`` aggregate
    (``{replica}`` is the replica directory) is 0 on the replica."""
    def transform(t, cols, src):
        if t not in tables:
            return _select(src, cols, {})
        sf_dir = os.path.dirname(src)
        offset = "(SELECT max(k) + 1 FROM ({}))".format(" UNION ALL ".join(
            f"SELECT max({_FACT_KEYS[u]}) AS k"
            f" FROM read_parquet('{_src(sf_dir, u)}')" for u in tables))
        key = _FACT_KEYS[t]
        return _select(src, cols, {
            key: f'CAST("{key}" + _rep * {offset} AS BIGINT)',
            **exprs.get(t, {})},
            f", range({factor}) _r(_rep)")

    def prove(con, sf_dir, replica):
        proof = {}
        for t in TABLES:
            aggs = {"rows": "count(*)"}
            if t in tables:
                aggs.update(keys=f'count(DISTINCT "{_FACT_KEYS[t]}")',
                            **scaled.get(t, {}))
            proof[t] = {
                "factor": factor if t in tables else 1,
                "scaled": {k: [_scalar(con, _src(sf_dir, t), a),
                               _scalar(con, _src(replica, t), a)]
                           for k, a in aggs.items()},
                "zero": {k: _scalar(con, _src(replica, t),
                                    a.format(replica=replica))
                         for k, a in zero.get(t, {}).items()}}
        return proof
    return _copy_stage(transform, prove)


def _replicate_ok(proof: dict) -> bool:
    return all(dst == p["factor"] * src
               for p in proof.values() for src, dst in p["scaled"].values()
               ) and not any(n for p in proof.values()
                             for n in p["zero"].values())


_SCALE_ZERO = {"lineitem": {"orphan_lines": (
    "count(*) FILTER (l_orderkey NOT IN (SELECT o_orderkey"
    " FROM read_parquet('{replica}/orders.parquet')))")}}

#: Copy ``_rep`` >= 1 renames every space-split token t to t_r<_rep>.
_SALTED = ("CASE WHEN _rep = 0 THEN text ELSE array_to_string("
           "list_transform(string_split(text, ' '), t -> t || '_r' || _rep),"
           " ' ') END")

_SALT_EXPRS = {"documents": {
    "text": _SALTED, "n_chars": f"CAST(length({_SALTED}) AS BIGINT)"}}
_SALT_SCALED = {"documents": {
    "tokens": "length(list_distinct(flatten(list(string_split(text, ' ')))))"}}
_SALT_ZERO = {"documents": {
    "n_chars_off": "count(*) FILTER (n_chars IS DISTINCT FROM length(text))"}}

#: ``scale:10``'s default queries: the overflow cohort, whose scalings
#: use DECIMAL(38,0)/HUGEINT lanes (the ``10^k * count * count`` rule
#: in PERF.md), plus the moment-heavy OLS/Theil-Sen/correlation
#: relatives whose integer moments grow quadratically in replicated
#: values. Derived by scanning sources for decimal(38 / HUGEINT;
#: re-derive when adding lanes.
_OVERFLOW_QUERIES = (
    "revenue_gini_coefficient",
    "share_of_parent_rollup",
    "abc_pareto_classes",
    "diff_in_diff_estimate",
    "simpson_paradox_check",
    "trend_daily_revenue_ols",
    "cusum_changepoint",
    "twap_user_value",
    "autocorrelation_daily_revenue",
    "forecast_wape_eval",
    "token_cooccurrence_lift",
    "centroid_cosine_matrix",
    "pca_power_iteration",
    "kfold_auc_eval",
    "score_auc_exact",
    "ks_statistic_value_drift",
    "key_skew_gini",
    "item_cf_similarity",
    # moment-heavy relatives without explicit 128-bit lanes (their
    # int64 headroom is the thing under test)
    "theil_sen_trend",
    "rolling_ols_slope_7d",
    "corr_value_hour_exact",
    "seasonal_decomposition_additive",
    "runs_test_randomness",
    "mannwhitney_u_value_drift",
    # round-4 additions with count*count lanes (the dedup family runs
    # under ``salt:10`` instead, see _WHY_SALT)
    "t_closeness_audit",
    "ab_srm_check",
    # round-9 additions: cnt*tot cross products (TVD numerator grows
    # FACTOR^2 under replication), budget*n_toks quotient lanes, and
    # the y*2^19 EWMA headroom (y grows FACTOR-fold).
    "docs_language_mix_shift",
    "mix_epoch_schedule",
    "ewma_k20_daily_revenue",
    # round-10 additions: r1/r2-era integer lanes designed before the
    # 128-bit-moment conventions, re-verified at 10x as the rotation
    # re-samples them. agg_variance_exact and token_simpson_diversity
    # carry n*sum(x^2) - sum(x)^2 / sum(n*n) quadratic moments in
    # int64; the others are money-cents sum lanes whose headroom
    # claims were written at sf0.1.
    "agg_variance_exact",
    "token_simpson_diversity",
    "pricing_summary",
    "window_running_total",
    "source_tvd_shift",
    "q14_promo_revenue",
    "events_ohlc_hourly",
    # round-11 additions: the r02-era rotation rows with integer
    # sum/count lanes written before the 128-bit-moment conventions —
    # money-cents sums (q17, the range frame, the IVM view),
    # count*count cardinality products (the join estimator's n_l*n_r
    # grows FACTOR^2 under replication), permille/rank*freq quotient
    # lanes (gate report, Zipf), and the KLL replay's rank arithmetic.
    "q17_small_quantity_revenue",
    "window_time_range_frame",
    "ivm_append_agg_view",
    "events_tumbling_window",
    "join_cardinality_estimate",
    "curation_gate_report",
    "zipf_rank_frequency",
    "sketch_percentile_drift",
)

#: ...plus the ANN-serving cohort (the round-5 rows-only conversions
#: and the k-means family they lean on). For query-batch-bounded
#: probes the key-offset replication IS the honest scale test: the
#: corpus grows FACTOR-fold while the probe batch stays the fixed
#: base-id set, so the run checks cross-engine determinism on the
#: bigger corpus with probe-candidate volume growing linearly with
#: bucket occupancy, never quadratically. Pair queries over embeddings
#: (``embedding_neardup_pairs``) stay OUT for the dedup family's
#: reason: identical replica vectors collide in every band, so the
#: pair set explodes quadratically by construction — not a scale
#: signal. k-means at FACTOR-x replication is a fixed point (the
#: floor-mean of a FACTOR-replicated member set equals the base mean)
#: with FACTOR-fold integer momentum lanes — an overflow-headroom
#: check on the micro sums.
_ANN_QUERIES = (
    "ann_lsh_topk",
    "ann_lsh_multiprobe_topk",
    "cosine_topk_bruteforce",
    "cms_token_count_estimates",
    "kmeans_lloyd_centroids",
    "kmeans_cluster_profile",
)

#: ``salt:10``'s default queries: the dedup family. A bijective
#: per-replica token renaming preserves token-set sizes and
#: intersections, so within-replica similarity — and hence near-dup
#: density — is exactly the base corpus's, while replica vocabularies
#: are pairwise disjoint, so no cross-replica shingle, band,
#: fingerprint or prefix ever collides (every operator here tokenizes
#: by space-split). SimHash and winnowing are not renaming-invariant:
#: their fingerprints hash the renamed tokens (SimHash's plane
#: geometry, winnowing's window minima), so per-replica pair counts
#: vary and only their cross-engine agreement is under test.
_DEDUP_QUERIES = (
    "dedup_exact_keep_first",
    "ngram_jaccard_neardup",
    "minhash_lsh_neardup",
    "simhash_neardup_pairs",
    "winnowing_neardup_pairs",
    "setsim_prefix_join",
)


_SHAPE_PARTS = 3


def _shape_stage(sf_dir: str, spark=None, cpus=None) -> tuple[str, dict]:
    """Every table rewritten by Spark as a multi-part parquet directory
    with the source's rows (repartition permutes their order)."""
    replica = scratch_dir("replica", sf_dir, version="|".join(
        [f"shape:{_SHAPE_PARTS}"]
        + [source_fingerprint(sf_dir, t + ".parquet") for t in TABLES]))
    proof: dict = {}
    for t in TABLES:
        dst = _src(replica, t)
        marker = os.path.join(replica, f"_STAGED_{t}")
        if not os.path.exists(marker):
            (spark.read.parquet(_src(sf_dir, t)).repartition(_SHAPE_PARTS)
             .write.mode("overwrite").parquet(dst))
            open(marker, "w").close()
        proof[t] = {
            "is_dir": os.path.isdir(dst),
            "n_parts": sum(f.endswith(".parquet") and not f.startswith(".")
                           for f in os.listdir(dst)),
            "src_rows": spark.read.parquet(_src(sf_dir, t)).count(),
            "dst_rows": spark.read.parquet(dst).count(),
        }
    return replica, proof


def _shape_ok(proof: dict) -> bool:
    return all(p["is_dir"] and p["n_parts"] >= 2
               and p["src_rows"] == p["dst_rows"] for p in proof.values())


# layout B changes task boundaries without changing semantics.
# Shuffle parallelism goes through SPARK_GRAFT_CPUS, because
# session.tune() (run inside every public query callable) re-derives
# spark.sql.shuffle.partitions from it; the two file confs are not in
# session.RUNTIME_CONFS, so a plain conf.set sticks across tune().
_LAYOUT_A = {"spark.sql.files.maxPartitionBytes": "134217728",
             "spark.sql.files.openCostInBytes": "4194304"}
_LAYOUT_B = {"spark.sql.files.maxPartitionBytes": "262144",
             "spark.sql.files.openCostInBytes": "4096"}
_LAYOUT_B_CPUS = 7  # odd, prime, not a divisor of anything


@contextlib.contextmanager
def _layout(spark, cpus: int, confs: dict):
    """Run the body under one layout, then restore layout A."""
    prior = os.environ.get("SPARK_GRAFT_CPUS")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        if prior is None:
            del os.environ["SPARK_GRAFT_CPUS"]
        else:
            os.environ["SPARK_GRAFT_CPUS"] = prior
        for k, v in _LAYOUT_A.items():
            spark.conf.set(k, v)


def _layout_stage(sf_dir: str, spark=None, cpus=None) -> tuple[str, dict]:
    """No replica: the proof is each layout's physical footprint — the
    scan-split count of lineitem and the shuffle parallelism a
    tune()'d callable actually sees."""
    from sql_database_engine_spark.session import default_parallelism, tune

    def probe(n: int, confs: dict) -> dict:
        with _layout(spark, n, confs):
            tune(spark)
            scan = spark.read.parquet(_src(sf_dir, "lineitem"))
            return {"scan_splits": scan.rdd.getNumPartitions(),
                    "shuffle_partitions": spark.conf.get(
                        "spark.sql.shuffle.partitions")}
    return sf_dir, {"a": probe(cpus or default_parallelism(), _LAYOUT_A),
                    "b": probe(_LAYOUT_B_CPUS, _LAYOUT_B)}


def _layout_ok(proof: dict) -> bool:
    a, b = proof["a"], proof["b"]
    return (a["scan_splits"] != b["scan_splits"]
            and a["shuffle_partitions"] != b["shuffle_partitions"])


# --- the kind table -------------------------------------------------------

@dataclass(frozen=True)
class Kind:
    #: (sf_dir, spark, cpus) -> (replica_dir, proof)
    stage: Callable[..., tuple[str, dict]]
    #: proof -> True when the replica really is perturbed
    perturbed: Callable[[dict], bool]
    #: "oracle" (DuckDB on the replica), "source" (Spark on the
    #: source) or "layout" (Spark under layout A)
    reference: str
    #: the regime, and why the fixtures never reach it
    why: str
    #: also compare pandas dtype families (the driver's lane)
    dtype_gate: bool = False
    #: the queries run when ``--only`` is absent; empty: the registry
    queries: tuple[str, ...] = ()


_WHY_NULL = """\
The driver's fixtures contain ZERO nulls in any column of any table
(count(*) - count(col) == 0 for all 10 tables at every SF), so the
oracle differential never exercises a NULL code path: null ordering in
window ORDER BY (Spark's ASC default is NULLS FIRST, DuckDB's NULLS
LAST), aggregate null-skipping, concat vs || propagation, 3-valued
filter logic, pandas-kernel None handling. Real data has nulls (failed
scrapes, absent measures, late-arriving attributes). ~3.1% of a
curated set of columns per table, plus the min-pk row, become NULL;
keys stay non-null. ``null:full`` also nulls the payload columns
(documents.text, embeddings.embedding, events.user_id) to probe kernel
robustness against absent payloads. Proof: every injected column holds
nulls and every table keeps its row count."""

_WHY_EMPTY = """\
Every other audit runs against POPULATED tables, yet empty inputs are
routine at scale: a partition-pruned scan that eliminates every file,
a date filter beyond the data's range, a tenant with no rows, an
ingest batch that arrived empty. Driver-side pipelines are at risk
exactly here: ``.first()`` returning None, ``collect()[0]`` on
nothing, min/max seeds that come back NULL and poison arithmetic,
Python kernels handed a zero-row batch, convergence checks that assume
a non-empty frame. Global aggregates over zero rows return one row
(COUNT=0, SUM=NULL) while grouped ones return none — both engines
follow the standard, but only if the operator delegates to SQL.
``empty:facts`` empties only the fact tables (orders, lineitem, events,
documents, embeddings) — the sharper probe, since dimension-driven
plans still produce rows; ``empty:all`` empties every table;
``empty:single`` keeps ONE row per table, the other sharp boundary:
n-1=0 sample-variance denominators, LAG/LEAD over one row,
single-point interpolation and no-pair joins, which the zero-row kinds
short-circuit past. Proof: each truncated table had more source rows
than its target and has exactly the target now; the rest kept every
row."""

_WHY_SIGN = """\
Every money/measure lane in the fixtures is ALL-POSITIVE at every SF
(min(o_totalprice), min(l_extendedprice), min(events.value) > 0; only
customer.c_acctbal and, at most SFs, s_acctbal ship negatives). Real
warehouses have refunds, chargebacks, reversals and corrections. The
engines genuinely disagree here when code is careless: Spark's integer
``div`` truncates toward ZERO while DuckDB's ``//`` floors toward
NEGATIVE INFINITY — identical on positive operands, off by one on any
negative numerator — and ``F.floor``/``%``/fixed-point scaling flip
their bias with sign. A deterministic ~25% of rows get the measure's
sign flipped; magnitudes are unchanged, so integer-overflow headroom
is identical to the source. Proof: every flipped column has a negative
minimum in the replica and (supplier aside) a non-negative one in the
source, with row counts equal."""

_WHY_TZ = """\
The events fixture spans 2024-01-01..01-30 — deep midwinter — so no
timestamp crosses a daylight-saving transition, and every IANA-zone
code path (``timezone_daily_rollup``'s America/New_York business days,
any local-calendar bucketing) has only been exercised in the fixed EST
regime. Spark resolves zones via Java tzdata, DuckDB via ICU, and the
two historically disagree on gap/ambiguity resolution (the nonexistent
02:30 on spring-forward day; the twice-occurring 01:30 on fall-back
day). events.ts is shifted by a constant interval, so inter-event
deltas, sessions and windows are preserved exactly and only the
calendar mapping changes: ``tz:spring`` +69 days (2024-03-10..04-08,
across spring-forward), ``tz:fall`` +307 days (2024-11-03..12-02,
across fall-back). Proof: rows fall on the transition day and the
America/New_York UTC offset takes both values across the replica."""

_WHY_UNICODE = """\
The documents fixture is pure ASCII (octet_length(text) = length(text)
for every row at every SF), so tokenization, per-character BPE
spacing, winnowing's byte-level decode, simhash/minhash vocabulary
hashing, language-ID heuristics and PII masking have never processed a
multibyte character. The engines can diverge on codepoint-vs-byte
lengths, per-character regex ``(.)`` over non-BMP codepoints, case
mapping and UTF-8 hashing (Spark = Java regex over UTF-16 strings with
surrogate pairs; DuckDB = RE2 over UTF-8 — a non-BMP emoji is ONE
codepoint to RE2 and TWO code units to a careless JVM path). A
deterministic ~25% of documents get vowels diacritic-folded (a->ä,
e->é) plus a mixed-script suffix with CJK, Greek and a 4-byte emoji.
Proof: the source has no multibyte rows; the replica has multibyte
rows, including a non-BMP one."""

_WHY_SHAPE = """\
Every real pipeline writes parquet tables as DIRECTORIES of part
files, but the driver ships single files, so the oracle differential
and every other sweep read a layout production never has. Round 5
found the defect class: ``_stream_dir`` symlinked ``events.parquet``
into the monitored directory as if it were a file, so a
directory-shaped events table listed zero files and the drain silently
streamed nothing. Each table is rewritten as a 3-part directory with
the same rows (in permuted order), and each query's result on it must
hash-equal its result on the source: a PASS proves the result is a
pure function of the LOGICAL data. Proof: every table is a multi-part
directory with exactly the source's row count."""

_WHY_LAYOUT = """\
A query whose RESULT depends on physical partitioning — float-sum
accumulation order, ``first()`` without ordering, sketch merge order,
top-k ties broken by task arrival — can hash-green against DuckDB a
hundred times and still flake on the hundred-and-first, because the
mismatch appears only under a layout the gate never produces (the r4
``kcore_decomposition`` transient raised this class). Every query runs
twice on the source in one session: layout A is the engine default
(shuffle partitions = --cpus, 128 MB scan splits); layout B uses 7
shuffle partitions and 256 KB ``maxPartitionBytes`` + 4 KB
``openCostInBytes``, so files split, small files stop coalescing, and
shuffle hash ranges and AQE coalescing differ. A PASS proves the
query's values are a pure function of the DATA — the property the
exact-integer-lane design exists to guarantee. Proof: the layouts
differ in both lineitem scan splits and shuffle parallelism."""

_WHY_SCALE = """\
Both real determinism bugs in round 3 (``item_cf_similarity``'s pico
lane passing int64, ``autocorrelation_daily_revenue``'s int128->double
ulp split) were invisible below sf0.1 and surfaced only one SF up, and
there is no sf1 fixture. ``scale:10`` manufactures the overflow
regime: every fact table is replicated ten times with offset surrogate
keys and untouched values, so counts and summed moments grow 10-fold
and count*count products 100-fold — exactly the int64-passing regime;
dimensions are copied as-is. Its default queries are the 128-bit-lane
cohort and the ANN-serving cohort. Proof: each fact table has exactly
10x its source rows and distinct keys, every replica line item has its
order, and every dimension keeps its rows."""

_WHY_SALT = """\
Key-offset replication is wrong for the dedup family: every document
becomes 10-fold duplicated, so pair joins explode quadratically by
construction. ``salt:10`` scales the corpus honestly: documents are
replicated ten times with offset doc ids, replica i >= 1 renames every
space-split token t to t_r<i> (n_chars recomputed), and the other
tables are copied as-is. Volume grows 10-fold at constant near-dup
density and no pair may cross replicas. Its default queries are the
dedup cohort. Proof: documents has exactly 10x its source rows, doc
ids and distinct tokens (the replica vocabularies are disjoint), n_chars
equals length(text) on every row, and every other table keeps its
rows."""

KINDS: dict[str, Kind] = {
    "identity": Kind(
        stage=lambda sf_dir, spark=None, cpus=None: (sf_dir, {}),
        perturbed=lambda proof: True, reference="oracle", dtype_gate=True,
        why="The driver's own gate on the shipped fixtures, with "
            "persisted failure artifacts and the pandas dtype-family "
            "check; nothing is perturbed."),
    "null:measures": Kind(_null_kind(_NULL_MEASURES), _null_ok,
                          "oracle", _WHY_NULL),
    "null:full": Kind(_null_kind(_NULL_FULL), _null_ok, "oracle",
                      _WHY_NULL),
    "empty:facts": Kind(_empty_kind({t: 0 for t in _FACTS}), _empty_ok,
                        "oracle", _WHY_EMPTY),
    "empty:all": Kind(_empty_kind({t: 0 for t in TABLES}), _empty_ok,
                      "oracle", _WHY_EMPTY),
    "empty:single": Kind(_empty_kind({t: 1 for t in TABLES}), _empty_ok,
                         "oracle", _WHY_EMPTY),
    "sign": Kind(_copy_stage(_sign_transform, _sign_prove), _sign_ok,
                 "oracle", _WHY_SIGN),
    "tz:spring": Kind(_tz_kind("spring", 69, "2024-03-10"), _tz_ok, "oracle",
                      _WHY_TZ),
    "tz:fall": Kind(_tz_kind("fall", 307, "2024-11-03"), _tz_ok, "oracle",
                    _WHY_TZ),
    "unicode": Kind(_copy_stage(_unicode_transform, _unicode_prove),
                    _unicode_ok, "oracle", _WHY_UNICODE),
    "scale:10": Kind(
        _replicate_kind(10, _FACTS, {}, {}, _SCALE_ZERO),
        _replicate_ok, "oracle", _WHY_SCALE,
        queries=_OVERFLOW_QUERIES + _ANN_QUERIES),
    "salt:10": Kind(
        _replicate_kind(10, ("documents",), _SALT_EXPRS, _SALT_SCALED,
                        _SALT_ZERO),
        _replicate_ok, "oracle", _WHY_SALT, queries=_DEDUP_QUERIES),
    "shape": Kind(_shape_stage, _shape_ok, "source", _WHY_SHAPE),
    "layout": Kind(_layout_stage, _layout_ok, "layout", _WHY_LAYOUT),
}


def stage_replica(kind: str, sf_dir: str, spark=None,
                  cpus: int | None = None) -> tuple[str, dict]:
    """Stage ``kind``'s replica of ``sf_dir`` under scratch (reused
    when already staged) and return ``(replica_dir, proof)``. ``shape``
    and ``layout`` need ``spark``; ``layout`` also takes layout A's
    shuffle parallelism as ``cpus``."""
    return KINDS[kind].stage(sf_dir, spark, cpus)


# --- the per-query step and the writer ------------------------------------

def check(name: str, subject, reference, dtype_check=None) -> dict:
    """Compare one query. ``subject()`` and ``reference()`` return
    ``(rows, cols)``; ``reference`` runs first and is None for a
    rows-only query. ``dtype_check()``, when given, returns the dtype
    asymmetries."""
    rec: dict = {"query": name}
    t0 = time.time()
    try:
        if reference is not None:
            b, b_cols = reference()
        a, a_cols = subject()
        if reference is None:
            rec.update(status="RAN_ROWS_ONLY", spark_rows=len(a),
                       elapsed_s=round(time.time() - t0, 3))
            return rec
        rec.update(spark_rows=len(a), oracle_rows=len(b),
                   spark_cols=a_cols, oracle_cols=b_cols,
                   spark_hash=value_hash(a), oracle_hash=value_hash(b))
        ok = (a_cols == b_cols and len(a) == len(b)
              and rec["spark_hash"] == rec["oracle_hash"])
        if dtype_check is not None:
            rec["dtype_asymmetries"] = dtype_check()
            ok = ok and not rec["dtype_asymmetries"]
        rec["elapsed_s"] = round(time.time() - t0, 3)
        rec["status"] = "PASS" if ok else "FAIL"
        if not ok:
            rec["mismatch"] = {
                "n_pairwise_diffs": sum(sa != sb for sa, sb in zip(a, b)),
                "first_pair_diffs": [{"spark": sa, "oracle": sb}
                                     for sa, sb in zip(a, b)
                                     if sa != sb][:20],
                "rows_only_in_spark": sorted(set(a) - set(b))[:20],
                "rows_only_in_oracle": sorted(set(b) - set(a))[:20],
            }
    except Exception as exc:  # noqa: BLE001 — artifact, not control flow
        # str() keeps the Java stack a bare repr(Py4JJavaError) hides
        rec.update(status="ERROR", error=f"{type(exc).__name__}: {exc}"[:4000],
                   elapsed_s=round(time.time() - t0, 3))
    return rec


@contextlib.contextmanager
def _sides(kind: Kind, name: str, spark, con, sf_dir: str, replica: str,
           cpus: int, skip_dtypes: bool):
    """Yield the ``(subject, reference, dtype_check)`` arguments of
    :func:`check` for one query under ``kind``."""
    from sql_database_engine_spark import operators

    q = operators.QUERIES[name]
    sql = operators.ORACLES.get(name)
    if kind.reference == "source":
        yield (lambda: spark_rows(q(spark, replica)),
               lambda: spark_rows(q(spark, sf_dir)), None)
    elif kind.reference == "layout":
        def under(n, confs):
            def run():
                with _layout(spark, n, confs):
                    return spark_rows(q(spark, sf_dir))
            return run
        yield under(_LAYOUT_B_CPUS, _LAYOUT_B), under(cpus, _LAYOUT_A), None
    elif sql is None:
        yield lambda: spark_rows(q(spark, replica)), None, None
    elif not kind.dtype_gate or skip_dtypes:
        yield (lambda: spark_rows(q(spark, replica)),
               lambda: duck_rows(con, sql), None)
    else:
        # One cached Spark execution feeds both the value and dtype
        # lanes. The duck side deliberately executes twice: a DuckDB
        # result can be fetched once, and the lanes need DIFFERENT
        # conversions — fetchall (raw Python values) vs .df() (the
        # driver's pandas lane).
        cached = []

        def subject():
            cached.append(q(spark, replica).cache())
            return spark_rows(cached[0])
        try:
            yield (subject, lambda: duck_rows(con, sql),
                   lambda: dtype_asymmetries(cached[0], con, sql))
        finally:
            # A failing query must not pin its cached partitions in
            # executor memory for the remaining sweep.
            for sdf in cached:
                with contextlib.suppress(Exception):
                    sdf.unpersist()


def append(out, rec: dict) -> None:
    """Write one JSONL record, flushed and fsynced at once."""
    out.write(json.dumps(rec, default=str) + "\n")
    out.flush()
    os.fsync(out.fileno())


def run_queries(out, names: list[str], step) -> dict:
    """Run ``step(name) -> record`` for every name, streaming each
    record to the open file ``out``; return the summary counts."""
    counts = {"n_queries": len(names), "n_pass": 0, "n_fail": 0,
              "n_rows_only": 0}
    t_start = time.time()
    for i, name in enumerate(names):
        rec = step(name)
        ok = rec["status"] in ("PASS", "RAN_ROWS_ONLY")
        counts["n_pass"] += ok
        counts["n_fail"] += not ok
        counts["n_rows_only"] += rec["status"] == "RAN_ROWS_ONLY"
        append(out, rec)
        print(f"[{i + 1}/{len(names)}] {rec['status']} {name} "
              f"{rec.get('elapsed_s')}s", flush=True)
    counts["total_s"] = round(time.time() - t_start, 1)
    return counts


def write_summary(path: str, summary: dict) -> None:
    with open(path, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary), flush=True)


def main() -> int:
    from sql_database_engine_spark.catalog import DEFAULT_SF_DIR
    from sql_database_engine_spark.session import default_parallelism

    ap = argparse.ArgumentParser(
        description="Spark-vs-reference hash differential over one "
                    "replica kind of the testdata.",
        epilog="kinds: " + ", ".join(KINDS))
    ap.add_argument("--replica", required=True, choices=list(KINDS),
                    metavar="KIND", help="replica kind (see epilog)")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--tag", default=None,
                    help="artifact name; default <kind>_<sfbase>_<pid>")
    ap.add_argument("--only", default=None,
                    help="comma-separated query names (default: the "
                         "kind's own set, else all registered)")
    ap.add_argument("--cpus", type=int, default=default_parallelism())
    ap.add_argument("--skip-dtypes", action="store_true",
                    help="skip the identity kind's pandas dtype-family "
                         "check (it re-executes the oracle once; worth "
                         "skipping only on sf0.1+ sweeps dominated by "
                         "the heavy replay oracles)")
    ap.add_argument("--prove-capture", action="store_true",
                    help="corrupt the first queried oracle (drop rows) "
                         "and run only that query, to prove a failure "
                         "artifact persists end to end")
    args = ap.parse_args()
    kind = KINDS[args.replica]
    if args.prove_capture and kind.reference != "oracle":
        ap.error("--prove-capture needs a kind with an oracle reference")

    tag = args.tag or (f"{args.replica.replace(':', '_')}_"
                       f"{os.path.basename(args.sf.rstrip('/'))}_"
                       f"{os.getpid()}")
    outdir = os.path.join(ROOT, "SWEEPS")
    os.makedirs(outdir, exist_ok=True)
    jsonl_path = os.path.join(outdir, f"{tag}.jsonl")
    summary_path = os.path.join(outdir, f"{tag}_summary.json")

    import duckdb

    from sql_database_engine_spark import operators
    from sql_database_engine_spark.session import get_spark
    operators.load_all()
    spark = get_spark(f"sweep-{args.replica}", cpus=args.cpus)

    replica, proof = stage_replica(args.replica, args.sf, spark, args.cpus)
    perturbed = kind.perturbed(proof)
    print(f"replica: {replica}", flush=True)
    print(f"perturbation proof -> {'OK' if perturbed else 'VACUOUS'} "
          f"({json.dumps(proof, default=str)})", flush=True)
    # DuckDB's default limit (80% of RAM) ignores the Spark driver JVM
    # beside it, so DuckDB gets half of that. At 40% of 16 GB the
    # heaviest twin seen (setsim_prefix_join's all-pairs join on
    # salt:10 at sf0.1) peaks at 6.9 GB instead of growing past what
    # the host has left. kcore_decomposition's twin materializes its
    # peel CTEs and runs at sf0.1 under a 2 GB limit (inlined, it
    # needed more than 3.7 GB at sf0.001).
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con = duckdb.connect(config={"memory_limit": f"{ram * 2 // 5 >> 20}MB"})
    if kind.reference == "oracle":
        register_duck_views(con, replica)

    if args.prove_capture:
        victim = args.only.split(",")[0] if args.only else "setop_except_all"
        operators.ORACLES[victim] = (
            f"SELECT * FROM ({operators.ORACLES[victim]}) LIMIT 1")
        args.only = victim
    names = (args.only.split(",") if args.only
             else list(kind.queries or operators.ordered_queries()))

    base = {"tag": tag, "sf": args.sf, "replica": args.replica}

    def step(name: str) -> dict:
        with _sides(kind, name, spark, con, args.sf, replica, args.cpus,
                    args.skip_dtypes) as sides:
            return {**check(name, *sides), "sf": args.sf}

    with open(jsonl_path, "w") as out:
        append(out, {"query": "__perturbation_proof__", "replica": replica,
                     "kind": args.replica, "proof": proof,
                     "perturbed": perturbed})
        if not perturbed:
            write_summary(summary_path, {**base, "error": "VACUOUS"})
            return 2
        counts = run_queries(out, names, step)
    if kind.dtype_gate:
        # a citation of "passed with the dtype gate active" must be
        # checkable from the artifact alone
        base["dtype_gate"] = "skipped" if args.skip_dtypes else "on"
    write_summary(summary_path, {**base, **counts})
    return 1 if counts["n_fail"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
