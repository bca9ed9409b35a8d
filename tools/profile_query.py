#!/usr/bin/env python
"""Per-query profiler: isolate per-query cost + plans.

For each named query (or a preset list), this tool

  - captures ``df.explain("formatted")`` into
    ``plans/profile/<name>_<tag>.txt`` (the checkable artifact for plan
    claims), and
  - times N noop-sink materializations (full computation, no driver
    collect, no output cost), printing per-rep seconds.

It warms up with ``bench.warm_up`` — codegen, the Python/Arrow worker
pool, the streaming machinery, bucketed / clustered / staged-IVF
layouts — so the first rep is not billed for engine spin-up and the
timings are comparable to the bench.

Usage:
    python tools/profile_query.py --tag before --reps 3 <query> [<query> ...]
    python tools/profile_query.py --tag before --top          # preset list
    python tools/profile_query.py --time-only <query>         # no plan file
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: The preset examination list: every headline query >= ~1.5s in
#: BENCH_r10 plus the full subset-24 (the citable instrument).
TOP = [
    "minhash_quality_eval", "doc_winnowing_fingerprints",
    "neardup_cluster_assignment", "kmeans_cluster_profile",
    "lsh_banding_tradeoff_sweep", "personalized_pagerank_brands",
    "embedding_neardup_pairs", "setsim_prefix_join",
    "kmeans_lloyd_centroids", "sssp_weighted_brands",
    "knn_regression_eval", "training_manifest_end_to_end",
    "simhash_neardup_pairs", "knn_confusion_matrix",
    "graph_eccentricity_diameter", "kcore_decomposition",
    "neardup_canonical_docs", "minhash_lsh_neardup",
    "scc_mutual_reach_brands", "triangle_count_brands",
    "community_modularity", "pagerank_brand_graph",
    "ann_ivf_topk", "ngram_jaccard_neardup",
    "stream_click_purchase_full_join_settled", "ann_pq_topk",
    "minhash_incremental_neardup", "link_prediction_common_neighbors",
    "jaccard_threshold_sweep", "er_golden_records",
    "label_propagation_communities", "doc_novelty_fraction",
    "basket_brand_pair_lift", "mmr_diversified_topk",
    "sql_recursive_date_spine_gapfill", "stream_click_purchase_join",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--top", action="store_true", help="profile the preset list")
    ap.add_argument("--tag", default="probe")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--time-only", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    names = list(args.queries) + (TOP if args.top else [])
    if not names:
        ap.error("no queries given")

    from bench import warm_up
    from sql_database_engine_spark.session import default_parallelism, get_spark
    import __spark_entry__ as contract

    cpus = default_parallelism()
    spark = get_spark("profile_query", cpus=cpus)
    qs = contract.queries()
    sf_dir = args.sf_dir

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    warm_up(spark, sf_dir, cpus)

    plans_dir = os.path.join(ROOT, "plans", "profile")
    os.makedirs(plans_dir, exist_ok=True)

    results = {}
    for name in names:
        if name not in qs:
            print(f"!! unknown query: {name}")
            continue
        spark.sparkContext.setJobDescription(f"profile: {name}")
        df = qs[name](spark, sf_dir)
        if not args.time_only:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(plans_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
        ts = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            noop(qs[name](spark, sf_dir))
            ts.append(round(time.perf_counter() - t0, 3))
        results[name] = ts
        med = statistics.median(ts)
        print(f"{med:7.3f}  {name}  reps={ts}")
        spark.sparkContext.setJobDescription(None)
    print("== total median:", round(sum(
        statistics.median(t) for t in results.values()), 3))
    spark.stop()


if __name__ == "__main__":
    main()
