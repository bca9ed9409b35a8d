"""Seeded input generation for the benchmark.

``generate(out_dir, seed, sf)`` writes the ten source tables the engine
reads (``{table}.parquet``, one file each) with the physical types and
value shapes of the engine's scale-factor fixtures: TPC-H-ish star
schema, an ``events`` stream table and the LLM-pipeline ``documents``
and ``embeddings`` tables. The same seed and scale give byte-identical
table contents.

Only numpy and pyarrow are used, so inputs can be built and checked
without a Spark session.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
EMBEDDING_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (TPC-H proportions; the
    LLM-pipeline tables have a floor so tiny scales still exercise
    every operator)."""
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(64, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "users": max(20, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with two decimals, exactly as cents / 100."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[
        rng.choice(len(choices), n, p=p)], pa.string())


def _midnights(rng, first_day: int, days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + (first_day + rng.integers(0, days, n)) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Word-salad texts; 5% are near-copies (one word changed or not)
    of an earlier document with `` dup`` appended, so exact and near
    duplicates both occur."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].removesuffix(" dup").split(" ")
            if rng.random() < 0.5:
                base[int(rng.integers(0, len(base)))] = words[rng.integers(0, len(words))]
            texts.append(" ".join(base) + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=(0.4, 0.15, 0.15, 0.15, 0.15)),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around one centre per label; 5% are tiny
    perturbations of an earlier vector (near-duplicate pairs)."""
    labels = rng.integers(0, 10, n)
    centres = rng.normal(size=(10, EMBEDDING_DIM))
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n, EMBEDDING_DIM))
    dups = np.flatnonzero(rng.random(n) < 0.05)
    dups = dups[dups > 0]
    vecs[dups] = vecs[rng.integers(0, dups)] + rng.normal(
        scale=0.01, size=(len(dups), EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), EMBEDDING_DIM).cast(
                pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    nc, ns, np_, no, nl = (n["customer"], n["supplier"], n["part"],
                           n["orders"], n["lineitem"])
    ne = n["events"]
    i32 = pa.int32()
    # Exponential inter-arrival gaps scaled to span 30 days, so ts
    # increases with event_id like a stream.
    gaps = rng.exponential(size=ne)
    ts = _EPOCH_2024 + (np.cumsum(gaps) / gaps.sum() * 30 * _DAY_US).astype(np.int64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)], pa.string()),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                 rng.integers(0, 8, (np_, 2))], pa.string()),
            "p_brand": pa.array(
                [f"Brand#{k}" for k in rng.integers(1, 26, np_)], pa.string()),
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), i32),
            "p_retailprice": rng.integers(9000, 10000, np_) / 10.0}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _midnights(rng, 0, 2405, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _midnights(rng, 1, 2499, nl)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
                              pa.string())}),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write every source table of scale ``sf`` to ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
