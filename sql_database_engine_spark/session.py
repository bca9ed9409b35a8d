"""SparkSession construction and runtime tuning.

Two entry points:

- :func:`get_spark` — build a session for tests / bench / REPL runs.
- :func:`tune` — apply the engine's *runtime* configuration to a
  session we did not create (the correctness driver owns its own
  SparkSession and passes it into ``__spark_entry__.queries()``
  callables; all confs used here are dynamically settable).

Scale notes (the design target is a 1000-executor cluster over
~100 TB, even though tests run on ``local[32]``):

- AQE is always on: it coalesces post-shuffle partitions, re-plans
  sort-merge joins into broadcast joins when runtime stats allow, and
  splits skewed shuffle partitions — all decisions that cannot be made
  statically at 100 TB.
- ``spark.sql.shuffle.partitions`` is only the *initial* shuffle
  parallelism; with AQE coalescing enabled its exact value matters
  little, so we default it to the local core count for tests. On a
  real cluster it should be 2-3× total executor cores.
- The session time zone is pinned to UTC so timestamp semantics match
  the DuckDB oracle and are not host-dependent.
- ``spark.sql.legacy.parquet.nanosAsLong`` lets Spark 4 read an
  ``events.parquet`` whose ``ts`` is TIMESTAMP(NANOS), one of the two
  encodings the testdata has shipped (the other is ``timestamp[us]``;
  Spark rejects nanos otherwise); the catalog converts the long to a
  proper microsecond timestamp column on load.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe to set on a live session (non-static SQL confs).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # NOTE on AQE coalescing: minPartitionSize stays at its 1 MB
    # default. Lowering it globally (tried 64 KB) un-starves the few
    # CPU-heavy-but-byte-small stages but costs more in task overhead
    # across the other ~50 headline queries (bench total 95 s -> 127 s
    # at sf0.1). Operators whose per-row cost dwarfs their bytes
    # (array_intersect verification) set explicit repartitions at
    # those points instead.
    # An events.parquet that stores ts as INT64 TIMESTAMP(NANOS,false)
    # is refused by Spark 4 unless read as a plain long (catalog
    # converts to us).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow makes createDataFrame/toPandas and pandas_udf exchange
    # columnar batches instead of pickled rows.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-owned session.

    Idempotent and cheap; every public query callable goes through
    this so behavior does not depend on who built the session.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A static conf on some future Spark — never fail a query
            # over a tuning knob.
            pass
    try:
        # Initial shuffle parallelism ≈ local cores, not the 200
        # default: AQE re-coalesces batch shuffles either way, but
        # *streaming state stores* shard at exactly this number — 200
        # near-empty state partitions is pure task overhead on the
        # driver's vanilla session. On a real cluster: 2-3× total
        # executor cores.
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(default_parallelism()))
    except Exception:
        pass
    return spark


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "sql-database-engine-spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local session configured for this engine."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # Initial shuffle parallelism ≈ cores; AQE coalesces further.
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
