"""``graph._relax``, the min-plus relaxation step of the BFS, SSSP and
eccentricity queries, against a pure-Python Bellman-Ford.

The reference relaxes synchronously, exactly as each ``_relax`` round
does: dist'(v) = min(dist(v), min over edges u→v of dist(u) + w), with
unreached nodes absent, for a fixed number of rounds.
"""

from __future__ import annotations

import pytest

from .conftest import jobs_started

#: Two routes a→c of different cost (direct 5, via b 2): d is first
#: reached at cost 6 over the dear route and improves to 3 a round
#: later; e's cheap route (cost 4) is four hops long, so within three
#: rounds it keeps the dear one (7); f is four hops from a on every
#: route, one beyond the round horizon; ``iso`` has no edge at all.
EDGES = [("a", "b", 1), ("b", "c", 1), ("a", "c", 5),
         ("c", "d", 1), ("d", "e", 1), ("e", "f", 1)]
NODES = ["a", "b", "c", "d", "e", "f", "iso"]
ROUNDS = 3


def bellman_ford(edges, seeds, rounds):
    """{node: dist} after ``rounds`` synchronous relaxations from
    ``seeds`` ({node: dist}); unreached nodes are absent."""
    d = dict(seeds)
    for _ in range(rounds):
        nxt = dict(d)
        for u, v, w in edges:
            if u in d and (v not in nxt or d[u] + w < nxt[v]):
                nxt[v] = d[u] + w
        d = nxt
    return d


def _relaxed(spark, edges, seeds, rounds, by=()):
    from sql_database_engine_spark.operators.graph import _hops, _relax
    from pyspark.sql import functions as F

    e = spark.createDataFrame(edges, "src string, dst string, w long")
    nodes = spark.createDataFrame([(n,) for n in NODES], "node string")
    d0 = spark.createDataFrame(
        seeds, ", ".join([f"{c} string" for c in by]
                         + ["node string", "dist long"]))
    d, started = jobs_started(
        spark, f"relax-{len(edges)}-{len(by)}",
        lambda: _relax(_hops(e, nodes, F.col("w")), d0, rounds, by))
    return d, started


@pytest.mark.parametrize("edges", [EDGES, []], ids=["graph", "no-edges"])
def test_relax_matches_bellman_ford(spark, edges):
    d, started = _relaxed(spark, edges, [("a", 0)], ROUNDS)
    assert started == 0  # no round runs while the plan is built
    got = {r.node: r.dist for r in d.collect()}
    assert got == bellman_ford(edges, {"a": 0}, ROUNDS)
    if edges:
        assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 7}


def test_relax_keyed_by_source_is_one_run_per_source(spark):
    """``by=("source",)`` runs every seed's relaxation side by side:
    the rows of each source equal a single-source run from it."""
    d, started = _relaxed(spark, EDGES, [(n, n, 0) for n in NODES],
                          ROUNDS, by=("source",))
    assert started == 0
    got = {}
    for r in d.collect():
        got.setdefault(r.source, {})[r.node] = r.dist
    assert got == {n: bellman_ford(EDGES, {n: 0}, ROUNDS) for n in NODES}
    assert got["iso"] == {"iso": 0}
