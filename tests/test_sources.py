"""Round-trip tests for the ingest/egress connectors."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F, types as T

from sql_database_engine_spark import schemas
from sql_database_engine_spark.sources.readers import read_source, write_sink
from sql_database_engine_spark.tables import TABLE_NAMES
from .conftest import SF_SMOKE, jobs_started


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_documents_roundtrip(spark, tmp_path, fmt):
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = str(tmp_path / f"docs_{fmt}")
    write_sink(src, fmt, out)
    back = read_source(spark, fmt, out, schemas.DOCUMENTS)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    a = sorted(tuple(r[c] for c in cols) for r in src.collect())
    b = sorted(tuple(r[c] for c in cols) for r in back.collect())
    assert a == b


def test_partitioned_write_prunes(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = str(tmp_path / "docs_part")
    write_sink(src, "parquet", out, partition_by=("lang",))
    pruned = read_source(spark, "parquet", out, schemas.DOCUMENTS) \
        .filter(F.col("lang") == "de")
    # Partition pruning must appear in the physical plan.
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan[:500]
    want = src.filter(F.col("lang") == "de").count()
    assert pruned.count() == want


def test_explicit_schema_enforced(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    out = str(tmp_path / "region_csv")
    write_sink(src, "csv", out)
    back = read_source(spark, "csv", out, schemas.REGION)
    assert [f.dataType for f in back.schema.fields] == \
        [f.dataType for f in schemas.REGION.fields]


def test_schema_evolution_backfills_nulls(spark, tmp_path):
    """Old files written before a column existed must read back under
    the evolved schema with NULLs backfilled — the explicit-schema way
    of schema evolution (the unified schema is declared, never
    inferred or merged at scan time, so the 100 TB read plan is one
    footer-free pass)."""
    from pyspark.sql import types as T
    out = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    v1.write.parquet(out + "/batch=1")
    v2 = spark.createDataFrame([(3, "c", 0.5)],
                               "id long, name string, score double")
    v2.write.parquet(out + "/batch=2")
    evolved = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ])
    back = read_source(spark, "parquet", out, evolved)
    rows = {r["id"]: (r["name"], r["score"]) for r in back.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5)}


def test_json_corrupt_records_quarantined(spark, tmp_path):
    """Malformed ingest lines must land in the corrupt-record column
    (PERMISSIVE mode), not kill the job or vanish — at scale a bad
    producer is a certainty and the quarantine column is the audit
    trail."""
    from pyspark.sql import types as T
    src = tmp_path / "raw.jsonl"
    src.write_text('{"id": 1, "name": "ok"}\n'
                   'this is not json\n'
                   '{"id": 2, "name": "also ok"}\n')
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ])
    back = read_source(spark, "json", str(src), schema,
                       mode="PERMISSIVE",
                       columnNameOfCorruptRecord="_corrupt_record").cache()
    good = back.filter(F.col("_corrupt_record").isNull())
    bad = back.filter(F.col("_corrupt_record").isNotNull())
    assert sorted(r["id"] for r in good.collect()) == [1, 2]
    assert bad.count() == 1
    assert "not json" in bad.collect()[0]["_corrupt_record"]
    back.unpersist()


def test_table_names_sync_with_schema_registry():
    """ADVICE r8: the Spark-free TABLE_NAMES literal and the
    authoritative StructType registry must agree, enforced by a test
    (not only catalog.py's import-time raise, which the Spark-free
    import path never executes and which `python -O` used to strip
    when it was an assert)."""
    from sql_database_engine_spark import schemas
    from sql_database_engine_spark.tables import TABLE_NAMES

    assert TABLE_NAMES == tuple(schemas.TESTDATA_SCHEMAS)


def _names_and_types(schema):
    return [(f.name, f.dataType) for f in schema]


@pytest.mark.parametrize("table", TABLE_NAMES)
def test_declared_schema_matches_loaded_table(spark, table):
    """Every declared testdata schema names the columns and types Spark
    infers from the parquet footers (nullability aside), after the
    catalog's canonicalization, and ``catalog.load_table`` returns the
    same. ``load_table`` reads with the declaration, so the reference
    side must be the inferring read: a declaration that drifts from
    the parquet files fails here."""
    from sql_database_engine_spark import catalog

    inferred = catalog._canonicalize(
        table, spark.read.parquet(f"{SF_SMOKE}/{table}.parquet")).schema
    loaded = catalog.load_table(spark, SF_SMOKE, table).schema
    assert (_names_and_types(schemas.TESTDATA_SCHEMAS[table])
            == _names_and_types(inferred) == _names_and_types(loaded))


@pytest.mark.parametrize("table", TABLE_NAMES)
def test_load_table_starts_no_jobs(spark, table):
    """A declared read needs no schema-inference job."""
    from sql_database_engine_spark import catalog

    _, jobs = jobs_started(spark, f"load-{table}",
                           lambda: catalog.load_table(spark, SF_SMOKE, table))
    assert jobs == 0


def test_events_stream_starts_no_jobs(spark):
    """The stream source takes the catalog's read schema; no batch
    probe read runs."""
    from sql_database_engine_spark.streaming.events_stream import events_stream

    _, jobs = jobs_started(spark, "events-stream",
                           lambda: events_stream(spark, SF_SMOKE))
    assert jobs == 0


def _rewrite_events_ts(dst_dir, ts_type, as_dir=False):
    """The sf0.001 events table with ``ts`` cast to ``ts_type``, as one
    file or as a directory of two parts."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(ts_type))
    dst = dst_dir / "events.parquet"
    if as_dir:
        dst.mkdir()
        half = t.num_rows // 2
        pq.write_table(t.slice(0, half), str(dst / "part-0.parquet"))
        pq.write_table(t.slice(half), str(dst / "part-1.parquet"))
    else:
        pq.write_table(t, str(dst))
    return str(dst_dir)


@pytest.mark.parametrize("as_dir", [False, True], ids=["file", "dir"])
def test_events_ns_encoding_loads_like_us(spark, tmp_path, as_dir):
    """An events table whose ``ts`` is ``timestamp[ns]`` (read as a
    long under nanosAsLong) loads with the same schema and rows as the
    shipped ``timestamp[us]`` file, also when it is directory-shaped."""
    import pyarrow as pa

    from sql_database_engine_spark import catalog

    ns_dir = _rewrite_events_ts(tmp_path, pa.timestamp("ns"), as_dir)
    assert catalog._read_schema(ns_dir, "events")["ts"].dataType == T.LongType()
    ns = catalog.load_table(spark, ns_dir, "events")
    us = catalog.load_table(spark, SF_SMOKE, "events")
    assert ns.schema == us.schema
    rows = us.sort(*us.columns).collect()
    assert len(rows) > 0
    assert ns.sort(*ns.columns).collect() == rows


def test_events_unknown_ts_encoding_raises(tmp_path):
    """A third ``ts`` encoding is refused by name, not guessed at."""
    import pyarrow as pa

    from sql_database_engine_spark import catalog

    tz_dir = _rewrite_events_ts(tmp_path, pa.timestamp("us", tz="UTC"))
    with pytest.raises(ValueError, match=r"timestamp\[us, tz=UTC\]"):
        catalog._read_schema(tz_dir, "events")


def test_tables_module_is_spark_free():
    """ADVICE r7: DuckDB-only harnesses must be able to import the
    view bootstrap without pyspark. Subprocess with pyspark imports
    blocked proves tables.py (and the lazy package __init__) stay
    Spark-free."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import builtins\n"
        "real = builtins.__import__\n"
        "def guard(name, *a, **k):\n"
        "    if name == 'pyspark' or name.startswith('pyspark.'):\n"
        "        raise ImportError('pyspark blocked')\n"
        "    return real(name, *a, **k)\n"
        "builtins.__import__ = guard\n"
        "from sql_database_engine_spark.tables import (TABLE_NAMES,\n"
        "    register_duck_views)\n"
        "import duckdb\n"
        "con = duckdb.connect()\n"
        "register_duck_views(con, '/root/testdata/sf0.001')\n"
        "assert con.sql('SELECT count(*) FROM region').fetchone()[0] == 5\n"
        "print('SPARKFREE_OK', len(TABLE_NAMES))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert "SPARKFREE_OK 10" in out.stdout


def test_register_duck_views_rejects_bad_identifier():
    """ADVICE r7: the shared view bootstrap must not interpolate a
    caller-supplied name verbatim into CREATE VIEW."""
    import duckdb
    import pytest

    from sql_database_engine_spark.tables import register_duck_views

    con = duckdb.connect()
    with pytest.raises(ValueError, match="invalid table identifier"):
        register_duck_views(con, "/root/testdata/sf0.001",
                            names=("region; DROP TABLE x; --",))
    with pytest.raises(ValueError, match="invalid table identifier"):
        register_duck_views(con, "/root/testdata/sf0.001",
                            names=('re"gion',))
