#!/usr/bin/env python
"""Dress rehearsal of the external correctness driver.

The driver owns its own SparkSession (the brief's literal recipe —
``SparkSession.builder.master("local[N]").config(
"spark.sql.shuffle.partitions", N)`` — NOT this repo's ``get_spark``)
and runs the first 50 entries of ``ordered_queries()`` against their
``oracle_sql()`` twins at sf0.01. Every engine conf the queries need
(UTC timezone, nanosAsLong for events.parquet, Arrow, AQE) must
therefore come from ``session.tune()`` running INSIDE each callable,
not from session construction — which is exactly the coupling this
rehearsal exists to exercise. The r5 ANN conversions were checked
this way one-by-one; this tool does it for the whole prefix so a
conf-dependence regression can never reach the real gate first.

Usage:
    python tools/driver_sim.py [--sf /root/testdata/sf0.01] [--n 50]

Artifacts stream to SWEEPS/{tag}.jsonl with the record fields of
tools/sweep.py.
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--n", type=int, default=50)
    ap.add_argument("--tag", default="driver_sim")
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    outdir = os.path.join(root, "SWEEPS")
    os.makedirs(outdir, exist_ok=True)
    jsonl_path = os.path.join(outdir, f"{args.tag}.jsonl")
    summary_path = os.path.join(outdir, f"{args.tag}_summary.json")

    # The driver's session, per the brief — deliberately NOT get_spark.
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("driver-sim")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    import duckdb
    from sql_database_engine_spark.catalog import register_duck_views
    con = duckdb.connect()
    register_duck_views(con, args.sf)

    import __spark_entry__ as entry
    from sweep import (check, duck_rows, run_queries, spark_rows,
                       write_summary)

    # The driver's smoke check first: entry() must run and return rows
    # with a stable schema.
    smoke = entry.entry(spark)
    print(f"entry() smoke: {smoke.count()} rows, "
          f"schema={[f.name for f in smoke.schema.fields]}", flush=True)

    queries = entry.queries()
    oracles = entry.oracle_sql()

    def step(name: str) -> dict:
        # rows-only entries get the driver's weaker check: they must
        # run (RAN_ROWS_ONLY)
        return {**check(name,
                        lambda: spark_rows(queries[name](spark, args.sf)),
                        (lambda: duck_rows(con, oracles[name]))
                        if name in oracles else None),
                "sf": args.sf}

    with open(jsonl_path, "w") as out:
        counts = run_queries(out, list(queries)[:args.n], step)
    write_summary(summary_path, {"tag": args.tag, "sf": args.sf, **counts})
    return 1 if counts["n_fail"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
