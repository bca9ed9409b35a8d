#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query is forced to full materialization with the `noop` sink
(executes the complete plan on the executors, no driver collect — the
fair way to time a distributed plan). One warm-up run of a tiny query
first so JVM/codegen startup isn't billed to the first query.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

import pandas as pd


HEADLINE = [
    # one per operator family — the queries whose plans matter at scale
    "flagship_revenue_by_region",   # multi-join + agg
    "pricing_summary",              # wide aggregation
    "revenue_forecast",             # scan-filter-agg (pushdown)
    "agg_count_distinct",           # distinct aggregation
    "top_spenders_per_nation",      # join + agg + window top-k
    "window_running_total",         # window frames
    "sort_limit_topk",              # global top-k
    "events_sessionize",            # event-time sessionization
    "events_asof_join",             # as-of join composition
    "json_parse_struct",            # JSON parse + agg
    "dedup_exact_keep_first",       # content-hash dedup
    "ngram_jaccard_neardup",        # pairwise near-dup (bucketed)
    "minhash_lsh_neardup",          # MinHash LSH banding
    "simhash_neardup_pairs",        # banded Hamming near-dup
    "cosine_topk_bruteforce",       # vector top-k
    "embedding_neardup_pairs",      # bucketed all-pairs cosine
    "ann_ivf_topk",                 # IVF index build + probe
    "join_bucketed_colocated",      # shuffle-free fact join (bucketed)
    "q3_shipping_priority",         # filter-join-agg-topk
    "q5_local_supplier_volume",     # 6-way join, same-nation equi-key
    "split_contamination_check",    # cross-split n-gram leakage audit
    "q7_nation_trade_volume",       # 6-way join
    "q18_large_orders",             # group-having-topk
    "stream_tumbling_counts",       # incremental windowed agg
    # round-2 additions (r01's 24 queries above stay unchanged so the
    # round-over-round delta is apples-to-apples)
    "stream_click_purchase_join",   # stream-stream join drain
    "neardup_cluster_assignment",   # iterative connected components
    "clustered_range_scan",         # Hilbert-layout 2-column file pruning
    "q9_product_profit",            # TPC-H Q9 shape (part-cost profit)
    "intra_doc_repetition",         # within-doc repetition signals
    "winsorize_event_values",       # nearest-rank percentile clipping
    "dq_constraint_audit",          # warehouse constraint audit
    "corr_value_hour_exact",        # exact-integer second moments
    "dup_ngram_span_stats",         # duplicated 5-gram span coverage
    "source_overlap_matrix",        # cross-source shingle overlap
    "embedding_int8_quant_error",   # int8 quantization error audit
    "curation_gate_report",         # composed curation gate
    "events_ohlc_hourly",           # OHLC downsampling bars
    "source_tvd_shift",             # corpus drift (exact fixed-point TVD)
    "pagerank_brand_graph",         # iterative graph message passing
    "rolling_7d_distinct_users",    # sliding-window distinct (explode trick)
    "basket_brand_pair_lift",       # market-basket association mining
    # round-2 second wave (appended; prior sets unchanged)
    "setsim_prefix_join",           # exact PPJoin-style similarity join
    "bm25_keyword_topk",            # keyword search scoring top-k
    "neardup_canonical_docs",       # cluster + keep-longest canonical
    "zscore_event_values",          # per-group standardization
    "ivm_append_join_view",         # incremental join-view maintenance
    # (sql_recursive_bfs registered + correctness-checked but not
    # benched: its cost is the basket-pair edge derivation that
    # basket_brand_pair_lift already times; the recursion itself
    # adds ~2s of iteration overhead on a 25-node graph.)
    "clamped_running_balance",      # applyInPandas stateful kernel
    "twap_user_value",              # 128-bit-lane weighted average
    "variant_json_extract",         # VARIANT parse-once path
    "cep_click_purchase_no_error",  # sequence pattern via window carry
    "training_manifest_end_to_end", # capstone dedup->split->shard plan
    # round-3 additions (prior sets unchanged for round-over-round
    # comparability; clamped_running_balance above times the Lindley
    # window closed form).
    # BENCH POLICY (round 8, VERDICT r7 item 6):
    # clamped_running_balance_kernel — the applyInPandas per-user
    # sequential-loop twin — is no longer in the timed headline set.
    # It exists precisely to demonstrate the UDF-tier price vs the
    # window-algebra production path (13x at sf0.1, the single most
    # expensive headline entry), and that price tag lives in PERF.md
    # as a standing measurement; re-paying ~6.7 s x 3 reps per bench
    # run timed nothing new. The query stays registered,
    # oracle-checked (hash-green driver row), and pytest-pinned —
    # same treatment as sql_recursive_bfs above.
    "q2_min_cost_supplier",         # decorrelated window-MIN (TPC-H Q2)
    "q16_supplier_part_counts",     # anti-join + COUNT(DISTINCT) (Q16)
    "multimodal_features",          # real WAV-PCM mapInPandas decode
    "binaryfile_wav_ingest",        # binaryFile source -> decode hop
    "multimodal_frame_sample",      # real raw-video frame sampling
    "dup_span_trim_corpus",         # exact-substring span removal
    "hybrid_rrf_retrieval",         # BM25 x quality-prior rank fusion
    "ann_pq_topk",                  # PQ codebooks + ADC + exact rerank
    # round-3 second wave (appended; prior sets unchanged)
    "hll_rollup_distinct_contract", # mergeable HLL distinct rollup
    "bitmap_distinct_rollup",       # exact bitmap distinct rollup
    "exact_median_two_pass",        # bucket-select global order statistic
    "dedup_incremental_batch",      # batch-vs-index digest dedup
    "minhash_incremental_neardup",  # batch-vs-band-index near-dup probe
    "winnowing_neardup_pairs",      # fingerprint-join containment near-dup
    # round-3 third wave (appended; prior sets unchanged)
    "bpe_merge_induction",          # BPE trainer rounds on the word table
    "priority_sample_estimate",     # weighted sample + subset-sum estimator
    "importance_resample_weights",  # DSIR-style target-likeness scoring
    "pca_power_iteration",          # matrix-free power-iteration PCA
    "doc_novelty_fraction",         # per-source first-occurrence novelty
    "kcore_decomposition",          # iterative k-core peeling
    "score_auc_exact",              # exact midrank ROC AUC
    "label_propagation_communities",  # 3-round deterministic LPA
    "community_modularity",         # Newman Q of the LPA partition
    "business_days_latency",        # closed-form weekday SLA metric
    "prorate_order_total",          # exact largest-remainder proration
    "abc_pareto_classes",           # Pareto 80/15/5 classification
    "autocorrelation_daily_revenue",  # exact ACF lags 1-7
    "jaccard_threshold_sweep",      # shared-candidate threshold curve
    "multimodal_image_ppm_decode",  # real P6 image decode kernel
    "rolling_ols_slope_7d",         # shared-walk windowed regression
    "cep_purchase_error_absence",   # absence CEP via following-frame min
    "attribution_position_based",   # U-shaped multi-touch credits
    "grid_proximity_join",          # spatial grid-binned neighbor join
    "token_cooccurrence_lift",      # head-vocab collocation mining
    "seasonal_decomposition_additive",  # STL-lite trend/seasonal/residual
    "kfold_auc_eval",               # per-fold exact midrank AUC
    "arrow_batch_token_stats",      # zero-copy mapInArrow tier
    "python_stream_datasource_drain",  # custom streaming source drain
    "ndcg_at_10_eval",              # literal-discount graded relevance
    "forecast_wape_eval",           # seasonal-naive WAPE benchmark
    # round-4 additions (prior sets unchanged): every query that
    # benched >2s in any PERF.md table now has a driver-visible
    # timing (VERDICT r3 item 6)
    "sssp_weighted_brands",         # weighted Bellman-Ford unroll
    "mmr_diversified_topk",         # greedy diversity re-ranking
    "sorted_neighborhood_pairs",    # rank-offset blocking joins
    "pii_dictionary_scrub",         # broadcast-denylist scrub + rebuild
    "triangle_count_brands",        # oriented-edge triangle join
    "stream_click_purchase_full_join_settled",  # FULL outer stream join
    "stream_distinct_users_hourly", # chained stateful dedup -> count
    "link_prediction_common_neighbors",  # neighborhood-Jaccard recs
    # round-4 first wave
    "kmeans_lloyd_centroids",       # 3 Lloyd rounds, broadcast centroids
    "bpe_apply_token_counts",       # vocabulary-factored tokenization
    "concurrent_sessions_peak",     # sweep-line peak concurrency
    "snapshot_time_travel_diff",    # snapshot table time travel reads
    "ctas_compaction_census",       # compacted-table census
    "t_closeness_audit",            # EMD sensitive-distribution audit
    "minhash_quality_eval",         # LSH recall vs exact truth
    "er_golden_records",            # blocking -> CC -> survivorship
    "session_path_markov",          # in-session transition matrix
    "stream_ohlc_drain",            # streaming OHLC bars drain
    "multimodal_scene_cut_detect",  # consecutive-frame temporal kernel
    "tfidf_source_terms",           # query-free source term profile
    "kmeans_cluster_profile",       # train + assign + purity readout
    "cart_abandonment_daily",       # session-intent funnel KPI
    "lsh_banding_tradeoff_sweep",   # 3 bandings, one signature pass
    "user_feature_vector",          # one-pass feature materialization
    "personalized_pagerank_brands", # seeded-teleport recommendation PPR
    "cohort_retention_matrix",      # cohort x week retention triangle
    "partitioned_scan_pruned",      # hive partition-pruned scan
    "late_dimension_fallback",      # UNKNOWN-bucket left join
    "stream_merge_into_snapshot",   # foreachBatch CDC -> snapshot table
    "multimodal_audio_vad",         # windowed-energy speech detection
    "attribution_time_decay",       # power-of-two recency credits
    "abc_xyz_classification",       # 9-cell inventory planning census
    "bitemporal_as_believed",       # two-axis point-in-time state
    "bootstrap_ci_daily_mean",      # 200-resample deterministic CI
    "agg_bucketed_no_shuffle",      # zero-exchange bucketed rollup
    "order_backlog_daily",          # lifecycle sweep at day grain
    "graph_eccentricity_diameter",  # multi-source BFS rounds
    "dot_vs_cosine_rank_agreement", # two-metric one-scan ranking eval
    "ab_cuped_adjusted_delta",      # CUPED variance-reduced readout
    "knn_confusion_matrix",         # majority-of-top-3 eval cells
    "theta_setop_contract",         # sketch difference with contracts
    "multimodal_asset_integrity_audit",  # fixity check + triage
    # round-5 additions (prior sets unchanged)
    "ann_ivf_staged_topk",          # probe-only IVF against staged index
    "ann_ivf_staged_append_probe",  # probe over incrementally refreshed index
    "doc_winnowing_fingerprints",   # byte-level winnowing kernel (>2s rule)
    # BENCH POLICY (round 9, VERDICT r8 item 6): ann_ivf_topk (line
    # above in the r01 subset) STAYS timed even though it measures
    # codebook BUILD + probe in one plan: it sits inside the
    # r01-comparable 24-subset, so staging its build untimed would
    # change the one composition-stable instrument this repo has. Its
    # probe-only twin ann_ivf_staged_topk is timed right above, so
    # the build/probe split is directly readable from the two lines
    # (PERF.md round-9 section records it); treat ann_ivf_topk's
    # number as "what a cold index costs", not the serving path.
    # round-9 additions (prior sets unchanged): the growth wave
    "ewma_k20_daily_revenue",       # 20-lag dyadic EWMA, one window
    "docs_vocab_growth_heaps",      # explode -> first-occurrence curve
    "events_session_entropy",       # sessionize + nano-unit entropy
    "events_pattern_funnel_strict_order",  # 3-step window carry funnel
    "grouping_sets_source_quality", # multi-grain Expand aggregate
    "docs_language_mix_shift",      # two-half TVD, O(langs) shuffle
    "scd2_merge_batch",             # SCD2 merge == rebuild lanes
    "mix_epoch_schedule",           # largest-remainder apportionment
    "tokenizer_fertility_eval",     # BPE fertility by language
    "scc_mutual_reach_brands",      # doubling-closure SCC
    # round-9 second wave (appended; prior sets unchanged)
    "window_rolling_median_7d",     # bounded-frame exact median
    "survival_km_signup_to_purchase",  # Kaplan-Meier log-nano lanes
    "knn_regression_eval",          # numeric-target kNN eval
    # round-10 additions (prior sets unchanged)
    "sql_curation_manifest_front_door",  # curation via spark.sql params
    "sql_recursive_date_spine_gapfill",  # WITH RECURSIVE doubling spine
    # round-11 addition (prior sets unchanged)
    "sql_ann_ivf_staged_front_door",  # staged-IVF probe via spark.sql + DPP
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from sql_database_engine_spark.session import get_spark
    import __spark_entry__ as contract

    spark = get_spark("bench", cpus=int(cpus))
    qs = contract.queries()

    def run(name: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    warm_up(spark, sf_dir, cpus)

    # Median-of-N per query (VERDICT r5 item 3): a single-pass timing
    # conflates plan cost with host variance — r5's 13 flagged
    # "regressions" on untouched queries were exactly that. N full
    # passes over the whole list (pass-interleaved, so a transient
    # slow episode hits each query in at most one rep rather than one
    # query in all reps) and the per-query MEDIAN is the citable
    # number; all reps land in the sidecar for diagnosis.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # Wall-clock budget (pass-granular): a pathologically slow host
    # must still produce the one JSON line the driver records — better
    # a median-of-2 (or single-pass) result than a killed run with no
    # output. A pass at sf0.1 is ~200 s on this machine; the default
    # budget admits all 3 passes with >2x headroom.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1500"))
    bench = [n for n in HEADLINE if n in qs]
    samples: dict[str, list[float]] = {n: [] for n in bench}
    t_start = time.perf_counter()
    for rep in range(reps):
        if rep and time.perf_counter() - t_start > budget_s:
            break
        for name in bench:
            samples[name].append(run(name))
    reps_done = len(samples[bench[0]]) if bench else 0
    # statistics.median, not sorted(ts)[len//2]: a budget-truncated
    # 2-rep run would otherwise take the LARGER sample, biasing the
    # citable number high (ADVICE r6).
    timings: dict[str, float] = {
        n: statistics.median(ts) for n, ts in samples.items()}

    total = round(sum(timings.values()), 3)
    subset = [n for n in HEADLINE[:24] if n in timings]
    subset_total = round(sum(timings[n] for n in subset), 3)
    # Noise-floor line (VERDICT r8 item 5): the 24-subset total built
    # from each query's MINIMUM across reps. The median is the citable
    # number; the min-floor is the host-variance separator — if the
    # median drifts round-over-round while the floor matches the prior
    # round's floor, the host degraded, not a plan.
    subset_min_floor = round(
        sum(min(samples[n]) for n in subset if samples[n]), 3)
    # Per-query FLOORS next to the medians (VERDICT r11 item 6,
    # additions-only): when a host stall poisons a median, the floor
    # map lets regression labels be computed on per-query minimums
    # instead — the existing contract fields are untouched.
    floors: dict[str, float] = {
        n: round(min(ts), 3) for n, ts in samples.items() if ts}
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "r01_subset_24": subset_total,
        "subset24_min_floor": subset_min_floor,
        "queries_min": floors,
    }
    # The driver records only a bounded TAIL of stdout (~2.2 kB), and
    # the full per-query map outgrew it in round 3 (BENCH_r03.json
    # "parsed": null — the official number was lost). So: write the
    # full result to a committed sidecar and print it FIRST, then emit
    # a compact final line the tail always captures — headline total,
    # r01-comparable 24-subset, and the 24-subset per-query map (the
    # round-over-round comparable set), ~1 kB total.
    here = os.path.dirname(os.path.abspath(__file__))
    # Regression tripwire (VERDICT r4 item 4): before overwriting the
    # committed sidecar, compare this run against it and flag any
    # common query >1.3x slower. The 0.3s floor keeps sub-noise
    # entries (which jitter far past 1.3x meaninglessly) out of the
    # flag list; same-SF runs only — cross-SF ratios are input-scale,
    # not regressions.
    # The committed sidecar is the sf0.1 record (the driver's bench
    # SF); other SFs get their own sidecar so an sf0.01 iteration run
    # never overwrites the round-over-round sf0.1 baseline.
    sidecar = os.path.join(
        here, "BENCH_LOCAL.json" if sf == 0.1 else f"BENCH_LOCAL_sf{sf}.json")
    regressions = []
    try:
        with open(sidecar) as f:
            prior_full = json.load(f)
        prior = (prior_full.get("queries", {})
                 if prior_full.get("sf") == sf else {})
    except (OSError, ValueError):
        prior = {}
    for n, t in timings.items():
        p = prior.get(n)
        if p and p > 0 and t >= 0.3 and t / p > 1.3:
            regressions.append({"query": n, "prev_s": p, "now_s": t,
                                "ratio": round(t / p, 2)})
    full["regressions"] = sorted(regressions, key=lambda r: -r["ratio"])
    full["reps"] = reps_done
    full["samples"] = samples
    with open(sidecar, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    print(json.dumps(full))
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "r01_subset_24": subset_total,
        "subset24_min_floor": subset_min_floor,
        "n_regressions": len(regressions),
        "queries": {n: timings[n] for n in subset},
        # additions-only: the same 24 queries' min-across-reps, so a
        # stall-poisoned median is readable as such from the tail line
        "queries_min": {n: floors[n] for n in subset if n in floors},
    }))
    spark.stop()


def warm_up(spark, sf_dir: str, cpus) -> None:
    """Untimed engine and layout staging, so no timed query is billed
    for spin-up it does not own: codegen, the Python/Arrow worker
    pool, the streaming machinery, and the bucketed / clustered /
    staged-IVF layouts. ``tools/profile_query.py`` calls it too, so
    its timings compare with bench's."""
    import __spark_entry__ as contract

    qs = contract.queries()
    # Warm-up: JVM startup, whole-stage codegen compilation, and
    # parquet footer caches — run one full multi-join plan so the
    # first measured query isn't billed for engine spin-up.
    qs["full_scan"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    qs["flagship_revenue_by_region"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Warm the Python/Arrow worker pool untimed (same policy as the
    # streaming warm-up below): daemon + worker fork and Arrow serde
    # init otherwise bill ~0.5 s to whichever Arrow-kernel query runs
    # first — engine spin-up, not plan cost. One tiny pandas_udf pass
    # on every core covers it. (pandas imported at module top: the
    # type hints must resolve from module globals.)
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _warm_udf(s: pd.Series) -> pd.Series:
        return s

    (spark.range(int(cpus) * 4, numPartitions=int(cpus))
     .select(_warm_udf("id"))
     .write.format("noop").mode("overwrite").save())

    # Warm the streaming machinery untimed too (state-store provider
    # classes, micro-batch thread pools, checkpoint FS setup,
    # streaming listener): the batch warm-up doesn't touch any of it,
    # so the first streaming HEADLINE entry was billed ~1.5-2 s of
    # engine spin-up the rest of the family never pays — same policy
    # as the codegen warm-up above, applied to the other engine.
    from sql_database_engine_spark.streaming import events_stream as _es
    _s = _es.events_stream(spark, sf_dir)
    _es.run_available_now(
        _es.tumbling_counts(_s), "bench_stream_warmup",
        output_mode="complete",
        state_partitions=_es.backlog_state_partitions(sf_dir))

    # Stage the bucketed fact layout untimed: the write is the
    # once-paid exchange every co-located join then rides for free —
    # billing it to the first query would time the wrong thing.
    from sql_database_engine_spark.sources.bucketed import ensure_bucketed_facts
    ensure_bucketed_facts(spark, sf_dir)

    # Same deal for the Hilbert-clustered layout: the clustering write
    # is the once-paid pass; the benched query times the pruned scan.
    from sql_database_engine_spark.sources.clustering import (
        ensure_clustered_lineitem)
    ensure_clustered_lineitem(spark, sf_dir)

    # And the staged IVF indexes: build once untimed so the two
    # staged-probe queries time the PROBE (their contract), not the
    # one-off codebook build / batch append.
    from sql_database_engine_spark.operators.similarity import (
        _ivf_stage, _ivf_stage_incremental)
    _ivf_stage(spark, sf_dir)
    _ivf_stage_incremental(spark, sf_dir)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
