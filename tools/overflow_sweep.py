#!/usr/bin/env python
"""Overflow-regime oracle differential on synthetically scaled facts.

Both real determinism bugs in round 3 (`item_cf_similarity`'s pico
lane passing int64, `autocorrelation_daily_revenue`'s int128->double
ulp split) were invisible below sf0.1 and surfaced only one SF up.
There is no sf1 fixture, so this tool manufactures the overflow
regime: every FACT table is replicated FACTOR times with offset
surrogate keys (values untouched — counts grow FACTOR-fold, summed
moments FACTOR-fold, count*count products FACTOR^2-fold, which is
exactly the int64-passing regime), dimensions are copied as-is, and
the 128-bit-lane cohort runs Spark-vs-DuckDB on the scaled directory
with the same bit-exact comparison the driver uses.

Usage:
    python tools/overflow_sweep.py [--factor 10] [--sf /root/testdata/sf0.1]

Exit code 0 = every cohort query hash-matches at the scaled size.
Results are recorded in ROUND{N}_NOTES.md per the measurement policy.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

#: Queries whose scalings use DECIMAL(38,0)/HUGEINT lanes (the
#: `10^k * count * count` rule in PERF.md), plus the moment-heavy
#: OLS/Theil-Sen/correlation relatives whose integer moments grow
#: quadratically in replicated values. Derived by scanning sources
#: for decimal(38 / HUGEINT; re-derive when adding lanes.
COHORT = [
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
    # round-4 additions with count*count lanes. (Dedup-family
    # queries stay OUT of this sweep: key-replicating the corpus
    # makes every document 10x-duplicated, so pair joins explode
    # quadratically by construction — not an overflow signal.)
    "t_closeness_audit",
    "ab_srm_check",
    # round-9 additions: cnt*tot cross products (TVD numerator grows
    # FACTOR^2 under replication), budget*n_toks quotient lanes, and
    # the y*2^19 EWMA headroom (y grows FACTOR-fold).
    "docs_language_mix_shift",
    "mix_epoch_schedule",
    "ewma_k20_daily_revenue",
    # round-10 additions (VERDICT r9 item 6): r1/r2-era integer lanes
    # designed before the 128-bit-moment conventions, re-verified at
    # 10x as the rotation re-samples them. agg_variance_exact and
    # token_simpson_diversity carry n*sum(x^2) - sum(x)^2 /
    # sum(n*n) quadratic moments in int64; the others are money-cents
    # sum lanes whose headroom claims were written at sf0.1.
    "agg_variance_exact",
    "token_simpson_diversity",
    "pricing_summary",
    "window_running_total",
    "source_tvd_shift",
    "q14_promo_revenue",
    "events_ohlc_hourly",
    # round-11 additions (VERDICT r10 item 6): the r02-era rotation
    # rows with integer sum/count lanes written before the
    # 128-bit-moment conventions — money-cents sums (q17, the range
    # frame, the IVM view), count*count cardinality products (the
    # join estimator's n_l*n_r grows FACTOR^2 under replication),
    # permille/rank*freq quotient lanes (gate report, Zipf), and the
    # KLL replay's rank arithmetic.
    "q17_small_quantity_revenue",
    "window_time_range_frame",
    "ivm_append_agg_view",
    "events_tumbling_window",
    "join_cardinality_estimate",
    "curation_gate_report",
    "zipf_rank_frequency",
    "sketch_percentile_drift",
]

#: Dedup-family cohort (VERDICT r4 item 5). Naive key-offset
#: replication is wrong for these (every doc becomes FACTOR-x
#: duplicated, so pair joins explode quadratically BY CONSTRUCTION —
#: not an overflow signal). The --dedup mode scales them honestly:
#: each replica i>=1 applies a BIJECTIVE per-replica token renaming
#: (t -> t||'_r'||i; every operator in this family tokenizes by
#: space-split, see text.py:29). A bijection preserves token-set
#: sizes and intersections, so within-replica similarity — and hence
#: near-dup density — is EXACTLY the base corpus's, while replica
#: vocabularies are pairwise disjoint, so no cross-replica shingle,
#: band, fingerprint, or prefix ever collides. Volume grows
#: FACTOR-fold at constant density: result-pairs-per-doc must stay
#: flat, which the sweep measures against the 1x base run.
DEDUP_COHORT = [
    "dedup_exact_keep_first",
    "ngram_jaccard_neardup",
    "minhash_lsh_neardup",
    "simhash_neardup_pairs",
    "winnowing_neardup_pairs",
    "setsim_prefix_join",
]

#: ANN-serving cohort (round-5 rows-only conversions + the k-means
#: family they lean on). For QUERY-BATCH-BOUNDED probes the naive
#: key-offset replication IS the honest scale test — the corpus grows
#: FACTOR-fold while the probe batch stays the fixed base-id set, so
#: the run measures (a) cross-engine determinism on the bigger corpus
#: and (b) probe-candidate volume growing LINEARLY with bucket
#: occupancy, never quadratically. Pair queries over embeddings
#: (`embedding_neardup_pairs`) stay OUT for the same reason the dedup
#: family has its own mode: identical replica vectors collide in
#: every band, so the pair set explodes quadratically by
#: construction — not a scale signal. k-means at FACTOR-x replication
#: is a fixed point (the floor-mean of a FACTOR-replicated member set
#: equals the base mean) with FACTOR-fold integer momentum lanes —
#: an overflow-headroom check on the micro sums.
ANN_COHORT = [
    "ann_lsh_topk",
    "ann_lsh_multiprobe_topk",
    "cosine_topk_bruteforce",
    "cms_token_count_estimates",
    "kmeans_lloyd_centroids",
    "kmeans_cluster_profile",
]

#: fact table -> surrogate key columns to offset per replica. The
#: lineitem FK rides the orders offset so replicated orders keep
#: their line items.
FACTS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "customer", "supplier", "part"]


def build_scaled_dir(src_sf: str, factor: int) -> str:
    import duckdb

    st = os.stat(os.path.join(src_sf, "lineitem.parquet"))
    out = os.path.join(
        "/tmp", "spark_graft_overflow",
        f"{factor}x-{st.st_size}-{st.st_mtime_ns}")
    done = os.path.join(out, "_STAGED")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    # One offset constant for every key column: larger than any key in
    # any fact table, so replica keyspaces never collide and the
    # orders/lineitem FK offset stays consistent.
    k = 0
    for t, keys in FACTS.items():
        for c in keys:
            v = con.sql(
                f"SELECT max({c}) FROM '{src_sf}/{t}.parquet'").fetchone()[0]
            k = max(k, int(v) + 1)
    for t, keys in FACTS.items():
        cols = [r[0] for r in con.sql(
            f"DESCRIBE SELECT * FROM '{src_sf}/{t}.parquet'").fetchall()]
        sel = ", ".join(
            f"CAST({c} + i * {k} AS BIGINT) AS {c}" if c in keys else c
            for c in cols)
        con.sql(
            f"COPY (SELECT {sel} FROM '{src_sf}/{t}.parquet', "
            f"range({factor}) r(i)) TO '{out}/{t}.parquet' "
            f"(FORMAT PARQUET)")
    for t in DIMS:
        shutil.copy(os.path.join(src_sf, f"{t}.parquet"),
                    os.path.join(out, f"{t}.parquet"))
    open(done, "w").close()
    return out


def build_dedup_scaled_dir(src_sf: str, factor: int) -> str:
    """Scaled documents with constant near-dup density: doc_id offset
    plus the per-replica bijective token salt (module docstring on
    DEDUP_COHORT). n_chars is recomputed from the salted text so the
    metadata stays consistent. All other tables are copied as-is."""
    import duckdb

    st = os.stat(os.path.join(src_sf, "documents.parquet"))
    out = os.path.join(
        "/tmp", "spark_graft_overflow_dedup",
        f"{factor}x-{st.st_size}-{st.st_mtime_ns}")
    done = os.path.join(out, "_STAGED")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    k = int(con.sql(f"SELECT max(doc_id) + 1 FROM "
                    f"'{src_sf}/documents.parquet'").fetchone()[0])
    con.sql(f"""
        COPY (
          SELECT CAST(doc_id + i * {k} AS BIGINT) AS doc_id,
                 salted AS text, lang, source,
                 CAST(length(salted) AS BIGINT) AS n_chars
          FROM (
            SELECT *,
                   CASE WHEN i = 0 THEN text
                        ELSE array_to_string(
                          list_transform(string_split(text, ' '),
                                         t -> t || '_r' || i), ' ')
                   END AS salted
            FROM '{src_sf}/documents.parquet', range({factor}) r(i))
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)""")
    for t in list(FACTS) + DIMS:
        if t != "documents":
            shutil.copy(os.path.join(src_sf, f"{t}.parquet"),
                        os.path.join(out, f"{t}.parquet"))
    open(done, "w").close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", nargs="*", default=None,
                    help="subset of the cohort to run")
    ap.add_argument("--dedup", action="store_true",
                    help="run the dedup cohort on the constant-density "
                         "salted replication instead (see DEDUP_COHORT)")
    ap.add_argument("--ann", action="store_true",
                    help="run the ANN-serving cohort on the naive "
                         "replication, with a probe-candidate "
                         "linearity measurement (see ANN_COHORT)")
    args = ap.parse_args()

    if args.dedup:
        scaled = build_dedup_scaled_dir(args.sf, args.factor)
    else:
        scaled = build_scaled_dir(args.sf, args.factor)
    print(f"scaled dir: {scaled}", flush=True)

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from sweep import duck_rows, spark_rows

    from sql_database_engine_spark import operators as ops
    from sql_database_engine_spark.session import get_spark
    from sql_database_engine_spark.tables import register_duck_views

    ops.load_all()
    spark = get_spark("overflow-sweep")
    con = duckdb.connect()
    register_duck_views(con, scaled)

    names = args.queries or (
        DEDUP_COHORT if args.dedup else ANN_COHORT if args.ann else COHORT)
    failures = []
    base_rows: dict[str, int] = {}
    koff = 0
    if args.ann:
        # Probe-candidate linearity: total in-bucket occupancy of the
        # 20-query LSH probe batch at base vs scaled must scale
        # ~FACTOR (bucket membership is replica-uniform), never
        # FACTOR^2 — the property that keeps probe cost linear in
        # corpus size at a fixed batch.
        from pyspark.sql import functions as SF
        from sql_database_engine_spark.catalog import load_table
        from sql_database_engine_spark.operators.similarity import (
            _ann_bucket_code)

        def probe_candidates(sf_dir: str) -> int:
            emb = load_table(spark, sf_dir, "embeddings")
            coded = emb.select(
                "vec_id", _ann_bucket_code("embedding").alias("b"))
            occ = coded.groupBy("b").agg(SF.count(SF.lit(1)).alias("n"))
            q = coded.filter(SF.col("vec_id") < 20)
            return (q.join(occ, "b")
                    .agg(SF.sum("n")).collect()[0][0] or 0)

        c_base = probe_candidates(args.sf)
        c_scaled = probe_candidates(scaled)
        print(f"probe candidates (20-query batch): base={c_base} "
              f"scaled={c_scaled} "
              f"ratio={c_scaled / max(c_base, 1):.2f} "
              f"(factor={args.factor})", flush=True)
    if args.dedup:
        # 1x base counts for the flat-density check: result pairs at
        # FACTOR-x must be ~FACTOR * base (density constant), never
        # FACTOR^2-ish (cross-replica candidate explosion). For the
        # set-based measures (exact/jaccard/minhash/setsim/winnowing)
        # a bijective renaming preserves within-replica results
        # exactly, so density_ratio must be 1.000. SimHash is NOT
        # renaming-invariant (its fingerprint is hash-geometry over
        # the vocabulary, redrawn per replica; with this fixture's
        # ~30-word vocab the within-replica pair count genuinely
        # varies) — for it the scale property under test is
        # cross_pairs == 0: disjoint replica vocabularies must never
        # produce cross-replica candidates, which is what keeps
        # candidate volume linear in corpus size.
        koff = int(duckdb.sql(
            f"SELECT max(doc_id) + 1 FROM "
            f"'{args.sf}/documents.parquet'").fetchone()[0])
        for name in names:
            base_rows[name] = ops.QUERIES[name](spark, args.sf).count()
    for name in names:
        t0 = time.perf_counter()
        df = ops.QUERIES[name](spark, scaled)
        actual, _ = spark_rows(df)
        expected, _ = duck_rows(con, ops.ORACLES[name])
        ok = actual == expected
        dt = time.perf_counter() - t0
        density = ""
        if args.dedup and base_rows.get(name):
            ratio = len(actual) / (args.factor * base_rows[name])
            density = (f" density_ratio={ratio:.3f} "
                       f"(1x={base_rows[name]} rows)")
            pair_cols = next((p for p in (("doc_a", "doc_b"),
                                          ("src", "dst"))
                              if set(p) <= set(df.columns)), None)
            if pair_cols:
                from pyspark.sql import functions as SF
                a_col, b_col = pair_cols
                cross = df.filter(
                    SF.floor(SF.col(a_col) / koff)
                    != SF.floor(SF.col(b_col) / koff)).count()
                density += f" cross_pairs={cross}"
        print(f"{name}: {'MATCH' if ok else 'MISMATCH'} "
              f"({len(actual)} rows, {dt:.1f}s){density}", flush=True)
        if not ok:
            failures.append(name)
            for i, (a, b) in enumerate(zip(actual, expected)):
                if a != b:
                    print(f"  first diff row {i}:\n    spark={a}\n"
                          f"    duck ={b}")
                    break
            if len(actual) != len(expected):
                print(f"  rows spark={len(actual)} duck={len(expected)}")
    spark.stop()
    print(f"\n{len(names) - len(failures)}/{len(names)} MATCH "
          f"at {args.factor}x {args.sf}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
