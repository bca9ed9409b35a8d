"""Catalog: table name → parquet path → canonical DataFrame.

The reference's "catalog" is a single hard-coded file handle
(`db.cpp:310-329`); ours maps the driver's testdata directory layout
(``{sf_dir}/{table}.parquet``, TESTDATA.md) plus any engine-created
tables to DataFrames, applying per-table canonicalization:

- ``events.ts`` has shipped in two physical encodings across driver
  testdata generations: INT64 nanosecond epoch (read via
  ``nanosAsLong``) and plain ``timestamp[us]`` without a UTC
  annotation (Spark reads it as ``TIMESTAMP_NTZ``). Both are
  normalized to a microsecond ``TimestampType``: the ns path uses
  integer division — **`div 1000`, not float division**: ns epochs
  (~1.7e18) exceed a double's 2^53 integer range, so a float path
  would silently corrupt timestamps; the NTZ path is a plain cast,
  which with the session time zone pinned to UTC (session.py)
  reinterprets the wall-clock as the identical UTC instant — exactly
  how the DuckDB oracle's ``epoch_us(naive ts)`` treats it.

Every read takes its schema from :func:`_read_schema`, so no load runs
a Spark job to infer one. Nine tables read as declared in
``schemas.TESTDATA_SCHEMAS``; ``events`` swaps the canonical ``ts`` for
the type its parquet footer names (``pyarrow.parquet.read_schema`` on
the file, or on the first part of a directory-shaped table):
``timestamp[ns]`` reads as ``LongType``, ``timestamp[us]`` as
``TimestampNTZType``, and any other type raises. Reads stay plain
parquet scans, so Catalyst keeps predicate pushdown / column pruning /
partition pruning; nothing here materializes or caches by default.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import schemas
from .session import tune
from .tables import TABLE_NAMES, register_duck_views  # noqa: F401  (re-export)

# The Spark-free literal in tables.py and the authoritative StructType
# registry must name the same tables in the same order — drift would
# desynchronize every DuckDB-side harness from the Spark side. An
# explicit raise, not `assert`: asserts are stripped under `python -O`
# and this check must survive any interpreter flags (ADVICE r8). A
# pytest pin (tests/test_sources.py) enforces the same invariant on
# the Spark-free import path that never executes this module.
if TABLE_NAMES != tuple(schemas.TESTDATA_SCHEMAS):
    raise ImportError(
        "tables.TABLE_NAMES out of sync with schemas.TESTDATA_SCHEMAS: "
        f"{TABLE_NAMES} != {tuple(schemas.TESTDATA_SCHEMAS)}")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _canonicalize(name: str, df: DataFrame) -> DataFrame:
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns → us, integer division (see module docstring).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # UTC-naive micros → TimestampType at the same instant
            # (session tz is UTC; see module docstring).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: Physical ``events.ts`` footer type → the type Spark reads it as.
_EVENTS_TS_READ_TYPES = {
    "timestamp[ns]": T.LongType(),  # under nanosAsLong (session.py)
    "timestamp[us]": T.TimestampNTZType(),
}


def _read_schema(sf_dir: str, name: str) -> T.StructType:
    """The schema a testdata table is read with (see module docstring)."""
    declared = schemas.TESTDATA_SCHEMAS[name]
    if name != "events":
        return declared
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        path = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    ts = str(pq.read_schema(path).field("ts").type)
    if ts not in _EVENTS_TS_READ_TYPES:
        raise ValueError(f"events.ts has unsupported parquet type {ts}; "
                         f"known: {sorted(_EVENTS_TS_READ_TYPES)}")
    return T.StructType([
        T.StructField(f.name, _EVENTS_TS_READ_TYPES[ts], f.nullable)
        if f.name == "ts" else f for f in declared])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table as its canonical DataFrame."""
    if name not in schemas.TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    tune(spark)
    df = (spark.read.schema(_read_schema(sf_dir, name))
          .parquet(os.path.join(sf_dir, f"{name}.parquet")))
    return _canonicalize(name, df)


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register canonical temp views so ``spark.sql`` queries see the
    same names the DuckDB oracle pre-registers."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# register_duck_views moved to tables.py (Spark-free, ADVICE r7) and
# re-exported above so existing import sites keep working.


class Catalog:
    """Thin per-(session, sf_dir) table cache used by operators.

    At cluster scale this would be a metastore; here it is a dict with
    the same contract: stable names to canonical DataFrames.
    """

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = tune(spark)
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in schemas.TESTDATA_SCHEMAS:
            return self.table(name)
        raise AttributeError(name)

    def broadcast(self, name: str) -> DataFrame:
        """Table wrapped in a broadcast hint.

        Only valid for tables that stay small at every scale factor
        (schemas.BROADCASTABLE); asserting here prevents a local-mode
        "it fit in memory" broadcast that would OOM a real cluster.
        """
        assert name in schemas.BROADCASTABLE, (
            f"{name} grows with SF; broadcasting it would not survive 100 TB")
        return F.broadcast(self.table(name))
