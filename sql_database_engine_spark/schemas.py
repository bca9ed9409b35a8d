"""Explicit schemas for every table the engine knows about.

The reference compiles its single schema into the binary
(`db.cpp:41-46`); our analog is this module: one declared
``StructType`` per table. ``USERS`` is the schema the REPL store
writes. The driver testdata schemas describe what
``catalog.load_table`` returns, after the catalog's canonicalization,
and every testdata read uses them in place of footer inference
(``catalog._read_schema``). ``tests/test_sources.py`` pins each
declaration to the types Spark infers from the parquet files, so a
declaration cannot drift from the data silently.

``o_orderdate`` and ``l_shipdate`` are stored as ``timestamp[us]``
without a UTC annotation, which Spark reads as ``TIMESTAMP_NTZ``.
``events.ts`` has shipped both as that and as INT64
TIMESTAMP(NANOS); the catalog reads whichever the footer names and
normalizes it to a microsecond ``TimestampType``, which is what is
declared here.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference-parity table (db.cpp:41-46, constraints db.cpp:404-419) ---

#: Max username length accepted by the reference (db.cpp:38).
COLUMN_USERNAME_SIZE = 32
#: Max email length accepted by the reference (db.cpp:39).
COLUMN_EMAIL_SIZE = 255

USERS = T.StructType([
    T.StructField("id", T.IntegerType(), False),
    T.StructField("username", T.StringType(), False),
    T.StructField("email", T.StringType(), False),
    # Engine-maintained monotone append counter: preserves the
    # reference's insertion-order `select` output (db.cpp:478,
    # spec/main_spec.rb:131-150) on a distributed store where file
    # order is otherwise meaningless.
    T.StructField("insertion_seq", T.LongType(), False),
])

# --- driver testdata: TPC-H-ish star schema ---

REGION = T.StructType([
    T.StructField("r_regionkey", T.IntegerType(), True),
    T.StructField("r_name", T.StringType(), True),
])

NATION = T.StructType([
    T.StructField("n_nationkey", T.IntegerType(), True),
    T.StructField("n_name", T.StringType(), True),
    T.StructField("n_regionkey", T.IntegerType(), True),
])

CUSTOMER = T.StructType([
    T.StructField("c_custkey", T.LongType(), True),
    T.StructField("c_name", T.StringType(), True),
    T.StructField("c_nationkey", T.IntegerType(), True),
    T.StructField("c_acctbal", T.DoubleType(), True),
    T.StructField("c_mktsegment", T.StringType(), True),
])

SUPPLIER = T.StructType([
    T.StructField("s_suppkey", T.LongType(), True),
    T.StructField("s_name", T.StringType(), True),
    T.StructField("s_nationkey", T.IntegerType(), True),
    T.StructField("s_acctbal", T.DoubleType(), True),
])

PART = T.StructType([
    T.StructField("p_partkey", T.LongType(), True),
    T.StructField("p_name", T.StringType(), True),
    T.StructField("p_brand", T.StringType(), True),
    T.StructField("p_type", T.StringType(), True),
    T.StructField("p_size", T.IntegerType(), True),
    T.StructField("p_retailprice", T.DoubleType(), True),
])

ORDERS = T.StructType([
    T.StructField("o_orderkey", T.LongType(), True),
    T.StructField("o_custkey", T.LongType(), True),
    T.StructField("o_orderstatus", T.StringType(), True),
    T.StructField("o_totalprice", T.DoubleType(), True),
    T.StructField("o_orderdate", T.TimestampNTZType(), True),
    T.StructField("o_orderpriority", T.StringType(), True),
])

LINEITEM = T.StructType([
    T.StructField("l_orderkey", T.LongType(), True),
    T.StructField("l_partkey", T.LongType(), True),
    T.StructField("l_suppkey", T.LongType(), True),
    T.StructField("l_linenumber", T.IntegerType(), True),
    T.StructField("l_quantity", T.DoubleType(), True),
    T.StructField("l_extendedprice", T.DoubleType(), True),
    T.StructField("l_discount", T.DoubleType(), True),
    T.StructField("l_tax", T.DoubleType(), True),
    T.StructField("l_returnflag", T.StringType(), True),
    T.StructField("l_linestatus", T.StringType(), True),
    T.StructField("l_shipdate", T.TimestampNTZType(), True),
])

EVENTS = T.StructType([
    T.StructField("event_id", T.LongType(), True),
    T.StructField("ts", T.TimestampType(), True),  # canonical (catalog)
    T.StructField("user_id", T.LongType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),  # JSON-encoded
])

DOCUMENTS = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("n_chars", T.LongType(), True),
])

EMBEDDINGS = T.StructType([
    T.StructField("vec_id", T.LongType(), True),
    T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    T.StructField("label", T.IntegerType(), True),
])

#: Logical schemas for every driver-provided table.
TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

#: Dimension tables small enough to broadcast at ANY scale factor —
#: region/nation are bounded by geography (≤ a few hundred rows even
#: at 100 TB), supplier stays in the low millions. customer/orders/
#: lineitem/part grow linearly with SF and must never be broadcast.
BROADCASTABLE = {"region", "nation", "supplier"}
