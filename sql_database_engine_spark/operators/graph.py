"""Graph analytics over a co-occurrence graph derived from baskets.

The graph: brands are nodes; an undirected edge connects two brands
whose parts co-occur in at least ``EDGE_MIN_COOCCUR`` orders (the
same deduped (order, brand) basket table the lift operator uses).
On it: fixed-iteration PageRank and triangle counting — the two
canonical "needs real message passing" shapes next to the label-
propagation connected components already in ``similarity.py``.

Determinism: PageRank is the engine's poster child for the exact
fixed-point policy — each damping contribution is rounded to one part
in 1e9 (a fixed double sequence both engines evaluate identically),
then message sums are exact integer adds, so three distributed
iterations reproduce bit-for-bit in DuckDB's unrolled-CTE twin.
Triangle counting is pure integers.

Scale shape: iterations are join(pr, edges on src) → groupBy(dst) —
one shuffle per round, partitioned by dst. On a power-law graph the
hub rows skew that shuffle; AQE skew-split handles moderate skew, and
the standard remedy beyond it (split hub adjacency into salted
segments, re-merge per round) composes with this plan without
changing the arithmetic. Triangles use the degree-ordered orientation
so every wedge is generated at its lowest-degree vertex — the
textbook bound that keeps per-node work O(d_max·d̄) instead of
O(d_max²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..catalog import Catalog
from . import query

#: Minimum co-occurring orders for an edge — prunes incidental pairs.
EDGE_MIN_COOCCUR = 3

#: PageRank fixed-point scale (1e9: contributions stay integral and a
#: 1e9-node sum is still far from int64 overflow).
PR_SCALE = 1_000_000_000.0
PR_ITERS = 3
DAMPING = 0.85

_BASKET_SQL = """
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
"""

_EDGES_SQL = f"""
    ob AS ({_BASKET_SQL}),
    und AS (
        SELECT a.p_brand AS src, b.p_brand AS dst
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
        HAVING COUNT(*) >= {EDGE_MIN_COOCCUR}
    ),
    edges AS (
        SELECT src, dst FROM und
        UNION ALL
        SELECT dst AS src, src AS dst FROM und
    )
"""

#: p75 strong-tie variant of the edge derivation (threshold moves with
#: the data so the graph stays sparse at any SF) — shared by
#: link prediction and k-core; `strong` is src < dst, `edges` both
#: directions.
_P75_EDGES_SQL = f"""
    ob AS ({_BASKET_SQL}),
    pairs AS (
        SELECT a.p_brand AS src, b.p_brand AS dst,
               CAST(COUNT(*) AS BIGINT) AS n_cooccur
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
    ), thr AS (
        SELECT n_cooccur AS t FROM (
            SELECT n_cooccur,
                   ROW_NUMBER() OVER (ORDER BY n_cooccur) AS rn,
                   COUNT(*) OVER () AS n
            FROM pairs
        ) WHERE rn = (3 * n + 3) // 4
    ), strong AS (
        SELECT src, dst FROM pairs, thr WHERE n_cooccur >= thr.t
    ), edges AS (
        SELECT src, dst FROM strong
        UNION ALL
        SELECT dst AS src, src AS dst FROM strong
    )
"""



def _brand_dim(cat: Catalog) -> DataFrame:
    """The |brands|-row (p_brand, bid) dictionary. Ids are assigned in
    brand STRING order, so every int comparison (<, MIN, ORDER BY) on
    bid is order-isomorphic to the same operation on the string — the
    property that lets the corpus-grain pair derivation run on 4-byte
    ints and restore strings at the vocabulary-pair grain with no
    result change. The row_number window is a single-partition sort of
    a vocabulary-sized relation (25 rows at any SF) — the broadcast-
    order-statistic pattern, not a data-scaled window."""
    return (cat.part.select("p_brand").distinct()
            .select("p_brand",
                    F.row_number().over(W.orderBy("p_brand")).alias("bid")))


def _basket_sets(cat: Catalog) -> DataFrame:
    """(l_orderkey, bs: sorted array<int> of distinct brand ids) — the
    whole basket derivation in ONE corpus-grain exchange: collect_set
    partially aggregates map-side (per-order dedup happens before the
    shuffle), replacing the former DISTINCT + self-join-on-l_orderkey
    chain that shuffled corpus-grain rows three times (guide §2.4)."""
    dim = _brand_dim(cat)
    pwb = (cat.part.select("p_partkey", "p_brand")
           .join(F.broadcast(dim), "p_brand")
           .select("p_partkey", "bid"))
    ob = (cat.lineitem.select("l_orderkey", "l_partkey")
          .join(F.broadcast(pwb), F.col("l_partkey") == F.col("p_partkey"))
          .select("l_orderkey", "bid"))
    return ob.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("bid")).alias("bs"))


def _pair_counts(cat: Catalog) -> DataFrame:
    """(src, dst, n_cooccur) over brand STRINGS with src < dst — the
    unthresholded co-occurrence relation every graph operator builds
    on. Pairs are generated per order from the basket-set array (a
    narrow k² explode of ≤7-element int arrays, whole-stage codegen'd)
    instead of the corpus self-join; counts aggregate map-side to the
    |brands|² pair grain, where one broadcast map<bid, p_brand> row
    restores the strings (the ``item_cf_similarity`` shape: the
    dictionary, a ``part`` scan, is derived once, not per pair side).
    bid order == string order, so src < dst is unchanged."""
    sets = _basket_sets(cat)
    ex = (sets.select(F.explode("bs").alias("sid"), "bs")
          .select("sid", F.explode("bs").alias("did"))
          .filter(F.col("sid") < F.col("did")))
    cnt = ex.groupBy("sid", "did").agg(F.count(F.lit(1)).alias("n_cooccur"))
    b = F.broadcast(_brand_dim(cat).agg(F.map_from_entries(
        F.collect_list(F.struct("bid", "p_brand"))).alias("b")))
    return cnt.crossJoin(b).selectExpr("b[sid] AS src", "b[did] AS dst",
                                       "n_cooccur")


def _undirected_edges(cat: Catalog) -> DataFrame:
    """(src, dst, n_cooccur) with src < dst, co-occurrence-thresholded.
    The single edge derivation every graph operator builds on; callers
    that don't need the support count just drop it."""
    return _pair_counts(cat).filter(
        F.col("n_cooccur") >= EDGE_MIN_COOCCUR)


def _directed_edges(cat: Catalog) -> DataFrame:
    und = _undirected_edges(cat).select("src", "dst")
    return und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _pr_oracle() -> str:
    """Unrolled PageRank CTE chain, same fixed-point arithmetic."""
    s = int(PR_SCALE)
    iters = [f"""
    pr0 AS (
        SELECT node, CAST(ROUND({s:.1f} / (SELECT n FROM nn)) AS BIGINT)
               AS pr
        FROM nodes
    )"""]
    for k in range(PR_ITERS):
        iters.append(f"""
    pr{k + 1} AS (
        SELECT n.node,
               CAST(ROUND({1 - DAMPING} * {s:.1f} / (SELECT n FROM nn))
                    AS BIGINT)
               + COALESCE(m.msum, 0) AS pr
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(CAST(ROUND({DAMPING} * CAST(p.pr AS DOUBLE)
                                       / d.deg) AS BIGINT)) AS BIGINT)
                       AS msum
            FROM pr{k} p
            JOIN deg d ON d.node = p.node
            JOIN edges e ON e.src = p.node
            GROUP BY e.dst
        ) m ON m.node = n.node
    )""")
    return f"""
    WITH {_EDGES_SQL},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges GROUP BY src
    ),{','.join(iters)}
    SELECT node AS brand, pr AS pr_fixed,
           CAST(pr AS DOUBLE) / {s:.1f} AS pagerank
    FROM pr{PR_ITERS}
    ORDER BY pr_fixed DESC, brand
    """


@query("pagerank_brand_graph", oracle=_pr_oracle())
def pagerank_brand_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact PageRank iterations on the brand co-occurrence
    graph (damping 0.85, uniform teleport). Each round is the
    distributed message-passing plan — join current ranks to the edge
    list on src, sum messages per dst, add the teleport term — with
    every damping contribution pre-rounded to 1e-9 so the per-dst sum
    is an exact integer add: run it on 32 threads or 1000 executors
    and the bits agree, which is what lets an unrolled DuckDB CTE
    serve as the oracle for a genuinely iterative distributed
    algorithm. No dangling-mass term is needed: the graph is
    symmetric, so every node has out-degree ≥ 1 by construction.
    Iterations compose lazily into one Catalyst plan (no driver
    collect between rounds); for many more rounds you would
    localCheckpoint per round exactly as the connected-components
    operator does (similarity.py)."""
    cat = Catalog(spark, sf_dir)
    # Same checkpoint discipline as the PPR twin: the edge list feeds
    # every message round, the node list every teleport term.
    edges = _directed_edges(cat).localCheckpoint(eager=False)
    nodes = (edges.select(F.col("src").alias("node")).distinct()
             .localCheckpoint(eager=False))
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    pr = (nodes.crossJoin(F.broadcast(nn))
          .select("node",
                  F.round(F.lit(PR_SCALE) / F.col("n")).cast("long")
                  .alias("pr")))
    teleport = F.round(F.lit((1 - DAMPING) * PR_SCALE) / F.col("n")) \
        .cast("long")
    # Per-round join strategy is chosen deliberately (guide §3.1): the
    # rank/degree/message relations are vocabulary-sized (|brands| rows
    # at ANY scale factor — the brand vocabulary is fixed), so they
    # broadcast onto the edge list instead of shuffling through
    # SortMergeJoin. Each round is then ONE metadata-grain exchange
    # (the per-dst message sum); integer adds are order-free, so the
    # join strategy cannot move a bit.
    for _ in range(PR_ITERS):
        rd = pr.join(F.broadcast(deg), "node")
        msgs = (edges.join(F.broadcast(rd), F.col("node") == edges.src)
                .select(
                    F.col("dst").alias("node"),
                    F.round(F.lit(DAMPING) * F.col("pr").cast("double")
                            / F.col("deg")).cast("long").alias("m")))
        msum = msgs.groupBy("node").agg(F.sum("m").alias("msum"))
        pr = (nodes.join(F.broadcast(msum), "node", "left")
              .crossJoin(F.broadcast(nn))
              .select("node",
                      (teleport + F.coalesce("msum", F.lit(0)))
                      .alias("pr")))
    return (pr.select(F.col("node").alias("brand"),
                      F.col("pr").alias("pr_fixed"),
                      (F.col("pr").cast("double") / PR_SCALE)
                      .alias("pagerank"))
            .orderBy(F.col("pr_fixed").desc(), "brand"))


@query(
    "triangle_count_brands",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges GROUP BY src
    ),
    oriented AS (
        SELECT e.src, e.dst FROM edges e
        JOIN deg ds ON ds.node = e.src
        JOIN deg dd ON dd.node = e.dst
        WHERE (ds.deg, e.src) < (dd.deg, e.dst)
    ),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM oriented e1
        JOIN oriented e2 ON e2.src = e1.dst
        JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    per_node AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY node
    )
    SELECT d.node AS brand, d.deg AS degree,
           COALESCE(p.n_triangles, 0) AS n_triangles
    FROM deg d LEFT JOIN per_node p ON p.node = d.node
    ORDER BY n_triangles DESC, brand
    """,
)
def triangle_count_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (plus degree) on the brand graph —
    the local-clustering building block. Edges are oriented from
    lower to higher (degree, id) before the wedge join, so each
    triangle is generated exactly once and every wedge is enumerated
    at its lowest-degree endpoint — the orientation trick that makes
    distributed triangle counting survive power-law degree skew (a
    hub node of degree d never enumerates its d² wedge pairs; its
    low-degree neighbors do). Two equi-joins on node keys + one
    3-row-per-triangle explode; all counts exact integers."""
    cat = Catalog(spark, sf_dir)
    edges = _directed_edges(cat).localCheckpoint(eager=False)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    ds = F.broadcast(deg.select(F.col("node").alias("src"),
                                F.col("deg").alias("deg_s")))
    dd = F.broadcast(deg.select(F.col("node").alias("dst"),
                                F.col("deg").alias("deg_d")))
    oriented = (edges.join(ds, "src").join(dd, "dst")
                .filter(F.struct(F.col("deg_s"), F.col("src"))
                        < F.struct(F.col("deg_d"), F.col("dst")))
                .select("src", "dst"))
    e1 = oriented
    e2 = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = oriented.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
    tri = (e1.join(F.broadcast(e2), e1.dst == e2.b)
           .join(F.broadcast(e3), (F.col("src") == F.col("a3"))
                 & (F.col("c") == F.col("c3")))
           .select(F.col("src").alias("a"), F.col("dst").alias("b"),
                   F.col("c")))
    per_node = (tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
                .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")))
    return (deg.join(F.broadcast(per_node), "node", "left")
            .select(F.col("node").alias("brand"),
                    F.col("deg").alias("degree"),
                    F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"))
            .orderBy(F.col("n_triangles").desc(), "brand"))


BFS_DEPTH = 4


def _bfs_oracle() -> str:
    steps = ["""
    d0 AS (
        SELECT node,
               CASE WHEN node = (SELECT min(node) FROM nodes)
                    THEN CAST(0 AS BIGINT) END AS dist
        FROM nodes
    )"""]
    for k in range(BFS_DEPTH):
        steps.append(f"""
    d{k + 1} AS (
        SELECT n.node,
               least(n.dist, m.reach + 1) AS dist
        FROM d{k} n LEFT JOIN (
            SELECT e.dst AS node, min(p.dist) AS reach
            FROM d{k} p JOIN edges e ON e.src = p.node
            WHERE p.dist IS NOT NULL
            GROUP BY e.dst
        ) m ON m.node = n.node
    )""")
    return f"""
    WITH {_EDGES_SQL},
    nodes AS (SELECT DISTINCT src AS node FROM edges),{','.join(steps)}
    SELECT node AS brand, dist AS hops
    FROM d{BFS_DEPTH}
    ORDER BY hops, brand
    """


def _relax(hops: DataFrame, d: DataFrame, rounds: int,
           by: tuple[str, ...] = ()) -> DataFrame:
    """``rounds`` min-plus relaxation steps of the distance relation
    ``d`` (*by, node, dist) over ``hops`` (src, dst, w): each round is
    hops ⋈ d on src = node, grouped on (*by, dst), min(dist + w).
    ``d`` holds reached rows only, and ``hops`` carries a weight-0
    self-loop per node that brings each node's own distance forward,
    so a round reads ``d`` once and the rounds compose lazily into one
    plan with no per-round checkpoint. After k rounds ``d`` holds
    every node reachable in <= k hops with its cheapest such cost.
    ``hops`` is edge-list sized and broadcast once for every round
    (faster than broadcasting ``d`` or no hint at sf0.1, PERF.md "One
    min-plus relaxation step")."""
    b = F.broadcast(hops)
    for _ in range(rounds):
        d = (b.join(d, F.col("src") == F.col("node"))
             .groupBy(*by, F.col("dst").alias("node"))
             .agg(F.min(F.col("dist") + F.col("w")).alias("dist")))
    return d


def _hops(edges: DataFrame, nodes: DataFrame, w) -> DataFrame:
    """(src, dst, w) for ``_relax``: every edge at weight ``w`` (a
    column of ``edges``) plus a weight-0 self-loop per node."""
    return (edges.select("src", "dst", w.cast("long").alias("w"))
            .unionByName(nodes.select(F.col("node").alias("src"),
                                      F.col("node").alias("dst"),
                                      F.lit(0).cast("long").alias("w"))))


@query("bfs_brand_distances", oracle=_bfs_oracle())
def bfs_brand_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-depth BFS: minimum hop count from the lexicographically
    first brand to every node of the co-occurrence graph, by
    ``BFS_DEPTH`` unrolled relaxation rounds (dist(v) :=
    min(dist(v), min over in-edges of dist(u)+1)). Nodes beyond the
    depth horizon stay NULL — the declared contract, which is what
    lets an unrolled-CTE oracle verify an iterative traversal exactly
    (hop counts are integers; min is order-free; nothing floats).

    The rounds are ``_relax`` at w = 1: one join(hops, d on src) +
    groupBy(dst) min per round, the same per-round shuffle shape as
    PageRank (partition by dst, AQE for hub skew), composed lazily
    with no per-round checkpoint; one final nodes ⟕ d restores NULL
    for unreached nodes. For unbounded diameters you iterate with the
    connected-components convergence machinery instead of a fixed
    unroll.
    """
    cat = Catalog(spark, sf_dir)
    edges = _directed_edges(cat).localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    seed = nodes.agg(F.min("node").alias("node"),
                     F.lit(0).cast("long").alias("dist"))
    d = _relax(_hops(edges, nodes, F.lit(1)), seed, BFS_DEPTH)
    return (nodes.join(d, "node", "left")
            .select(F.col("node").alias("brand"),
                    F.col("dist").alias("hops"))
            .orderBy(F.asc_nulls_last("hops"), "brand"))


#: ONE SQL text for both engines: Spark 4's WITH RECURSIVE and
#: DuckDB's are dialect-compatible for this query, so the front door
#: and its oracle are literally the same string — the strongest
#: possible parity statement for the SQL surface.
_RECURSIVE_BFS_SQL = f"""
    WITH RECURSIVE
    {_EDGES_SQL},
    start AS (SELECT MIN(src) AS s FROM edges),
    walk(node, d) AS (
        SELECT s, 0 FROM start
        UNION ALL
        SELECT e.dst, w.d + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.d < 3
    )
    SELECT node AS brand, CAST(MIN(d) AS BIGINT) AS hops
    FROM walk GROUP BY node
"""


@query("sql_recursive_bfs", oracle=_RECURSIVE_BFS_SQL)
def sql_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE front door (Spark 4 WITH RECURSIVE): BFS
    reachability to depth 3 over the brand co-occurrence graph,
    authored as ONE SQL text that runs verbatim on both Spark and the
    DuckDB oracle — edge derivation, recursive walk, and hop-min are
    the same string on both engines.

    Semantics next to ``bfs_brand_distances`` (the iterative
    DataFrame twin): UNION ALL + an explicit depth bound terminates
    on cyclic graphs; unreached nodes are absent here (the iterative
    twin reports them as NULL — both contracts documented). Catalyst
    executes the recursion as iterated joins — the same per-round
    join(frontier, edges) shuffle the hand-rolled loop issues, now
    planned from declarative SQL. Path fan-out before the MIN is
    bounded by |brands| * avg_degree^3 (brand vocabulary is fixed, so
    this does not grow with corpus size).
    """
    from ..catalog import register_views
    register_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_RECURSIVE_BFS_SQL)


#: Fixed relaxation rounds for the weighted SSSP unroll.
SSSP_ROUNDS = 4

#: Edge cost from co-occurrence support: stronger ties are cheaper to
#: traverse; exact integer ceil-division keeps everything integral.
_COST_SQL = "(1000 + COUNT(*) - 1) // COUNT(*)"

_WEDGES_SQL = f"""
    ob AS ({_BASKET_SQL}),
    wund AS (
        SELECT a.p_brand AS src, b.p_brand AS dst,
               CAST({_COST_SQL} AS BIGINT) AS cost
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
        HAVING COUNT(*) >= {EDGE_MIN_COOCCUR}
    ),
    wedges AS (
        SELECT src, dst, cost FROM wund
        UNION ALL
        SELECT dst AS src, src AS dst, cost FROM wund
    )
"""


def _weighted_edges(cat: Catalog) -> DataFrame:
    """Directed weighted edges: cost = ceil(1000 / co-occurrence),
    derived from the one shared co-occurrence relation."""
    und = _undirected_edges(cat).select(
        "src", "dst",
        F.expr("(1000 + n_cooccur - 1) div n_cooccur").alias("cost"))
    return und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                   "cost"))


def _sssp_oracle() -> str:
    steps = ["""
    d0 AS (
        SELECT node,
               CASE WHEN node = (SELECT min(node) FROM nodes)
                    THEN CAST(0 AS BIGINT) END AS dist
        FROM nodes
    )"""]
    for k in range(SSSP_ROUNDS):
        steps.append(f"""
    d{k + 1} AS (
        SELECT n.node, least(n.dist, m.reach) AS dist
        FROM d{k} n LEFT JOIN (
            SELECT e.dst AS node, min(p.dist + e.cost) AS reach
            FROM d{k} p JOIN wedges e ON e.src = p.node
            WHERE p.dist IS NOT NULL
            GROUP BY e.dst
        ) m ON m.node = n.node
    )""")
    return f"""
    WITH {_WEDGES_SQL},
    nodes AS (SELECT DISTINCT src AS node FROM wedges),{','.join(steps)}
    SELECT node AS brand, dist AS path_cost
    FROM d{SSSP_ROUNDS}
    ORDER BY path_cost, brand
    """


@query("sssp_weighted_brands", oracle=_sssp_oracle())
def sssp_weighted_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford, fixed
    ``SSSP_ROUNDS`` unrolled relaxations) from the lexicographically
    first brand — the weighted sibling of ``bfs_brand_distances``:
    hop counts become additive integer costs (ceil(1000/co-occurrence)
    — strong ties are cheap), and the relaxation is dist(v) :=
    min(dist(v), min over in-edges of dist(u) + w(u,v)). After k
    rounds every node holds the exact cheapest cost among paths of
    <= k edges — the declared contract that makes the unrolled-CTE
    oracle exact; unreached nodes stay NULL.

    The rounds are ``_relax`` at w = cost, the BFS plan with another
    weight: one shuffle per round keyed by dst (AQE handles hub skew;
    costs are integers so MIN is order-free and bit-stable). Bellman-
    Ford is the distributed SSSP of choice because relaxation is a
    commutative monoid aggregation — no priority queue to serialize —
    and composes with the same salted-hub remedy as every other round.
    """
    cat = Catalog(spark, sf_dir)
    # Every round reads the edge relation; a lazy localCheckpoint
    # materializes the basket-join derivation once (GraphX cache-the-
    # edges discipline). Under AQE it is not job-free: asking for the
    # checkpoint's RDD runs the shuffle and broadcast stages beneath it
    # while the query is built (tests/test_build_jobs.py).
    edges = _weighted_edges(cat).localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    seed = nodes.agg(F.min("node").alias("node"),
                     F.lit(0).cast("long").alias("dist"))
    d = _relax(_hops(edges, nodes, F.col("cost")), seed, SSSP_ROUNDS)
    return (nodes.join(d, "node", "left")
            .select(F.col("node").alias("brand"),
                    F.col("dist").alias("path_cost"))
            .orderBy(F.asc_nulls_last("path_cost"), "brand"))


def _p75_strong_edges(cat: Catalog) -> tuple[DataFrame, DataFrame]:
    """Strong-tie (p75-support) edge derivation shared by link
    prediction and k-core: co-occurring brand pairs thresholded at the
    nearest-rank p75 support (a 1-row broadcast order statistic), so
    the graph stays sparse at any SF. Returns (strong src<dst,
    edges both directions). Spark twin of ``_P75_EDGES_SQL``."""
    from pyspark.sql import Window as W

    pairs = _pair_counts(cat)
    ranked = (pairs
              .withColumn("rn", F.row_number().over(
                  W.orderBy("n_cooccur")))
              .withColumn("n", F.count(F.lit(1)).over(
                  W.partitionBy(F.lit(1)))))
    thr = (ranked.filter(F.col("rn") == F.expr("(3 * n + 3) div 4"))
           .select(F.col("n_cooccur").alias("t")))
    # Checkpoint once: every consumer references strong/edges several
    # times per round, and without this the basket join re-derives per
    # reference (the registry scan audit measured 36 lineitem scans in
    # link prediction's unchecked plan).
    strong = (pairs.crossJoin(F.broadcast(thr))
              .filter(F.col("n_cooccur") >= F.col("t"))
              .select("src", "dst")
              .localCheckpoint(eager=False))
    edges = strong.unionByName(
        strong.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return strong, edges


@query(
    "link_prediction_common_neighbors",
    oracle=f"""
    WITH {_P75_EDGES_SQL}, deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges GROUP BY src
    ), wedge AS (
        SELECT e1.dst AS a, e2.dst AS b,
               CAST(COUNT(*) AS BIGINT) AS cn
        FROM edges e1 JOIN edges e2
          ON e1.src = e2.src AND e1.dst < e2.dst
        GROUP BY e1.dst, e2.dst
    ), nonedge AS (
        SELECT w.a, w.b, w.cn
        FROM wedge w LEFT JOIN strong u ON u.src = w.a AND u.dst = w.b
        WHERE u.src IS NULL
    )
    SELECT n.a, n.b, n.cn,
           da.deg AS deg_a, db.deg AS deg_b,
           CAST(1000000 * n.cn // (da.deg + db.deg - n.cn) AS BIGINT)
               AS jaccard_micros
    FROM nonedge n
    JOIN deg da ON da.node = n.a
    JOIN deg db ON db.node = n.b
    ORDER BY jaccard_micros DESC, a, b
    LIMIT 10
    """,
)
def link_prediction_common_neighbors(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Link prediction on the STRONG-tie brand graph — the
    recommendation primitive behind "brands bought together with both
    of these": for every non-adjacent pair sharing a neighbor, the
    neighborhood-Jaccard score |N(a) ∩ N(b)| / |N(a) ∪ N(b)| in exact
    integer micros; top-10 predicted links.

    The fixed EDGE_MIN_COOCCUR threshold makes the 25-brand demo
    graph COMPLETE (no non-edges — nothing to predict), so this
    operator derives its own sparsity: edges are the top quartile of
    co-occurring pairs by support (nearest-rank p75 cutoff, a 1-row
    broadcast order statistic), which stays sparse at ANY scale
    factor because the threshold moves with the data. Candidate
    generation is the triangle counter's wedge join (pairs meeting at
    a common neighbor — never all-pairs) minus existing edges via an
    anti-join; per-node work is degree-bounded, and the hub remedy is
    the same degree-ordered orientation. All-integer score
    (10^6·cn div (da+db−cn)) so ranking and values hash-verify.
    """
    from pyspark.sql import Window as W

    cat = Catalog(spark, sf_dir)
    strong, edges = _p75_strong_edges(cat)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    e1 = edges.select(F.col("src").alias("w"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("w2"), F.col("dst").alias("b"))
    wedge = (e1.join(F.broadcast(e2), (F.col("w") == F.col("w2"))
                     & (F.col("a") < F.col("b")))
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("cn")))
    nonedge = wedge.join(
        F.broadcast(strong),
        (wedge.a == strong.src) & (wedge.b == strong.dst),
        "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    scored = (nonedge.join(F.broadcast(da), "a")
              .join(F.broadcast(db), "b")
              .withColumn(
                  "jaccard_micros",
                  F.expr("1000000 * cn div (deg_a + deg_b - cn)")))
    return (scored.select("a", "b", "cn", "deg_a", "deg_b",
                          "jaccard_micros")
            .orderBy(F.col("jaccard_micros").desc(), "a", "b")
            .limit(10))


#: k-core threshold: nodes keep membership while their degree in the
#: SURVIVING subgraph stays >= K.
KCORE_K = 5


def _kcore_round_sql(eprev: str, dprev: str, r: int) -> str:
    """One DuckDB peel: remove sub-K nodes, induce the subgraph,
    recompute degrees over the survivors (absent = 0). Every CTE is
    MATERIALIZED: a round reads the previous round's CTEs twice, and
    DuckDB 1.0 inlines a plain CTE at each reference, so the inlined
    plan grows exponentially with the rounds (over 3.7 GB at sf0.001,
    spilling until the disk filled at sf0.1)."""
    return f"""
    rem{r} AS MATERIALIZED (
        SELECT node FROM {dprev} WHERE deg < {KCORE_K}
    ), s{r} AS MATERIALIZED (
        SELECT node FROM {dprev} WHERE deg >= {KCORE_K}
    ), e{r} AS MATERIALIZED (
        SELECT e.src, e.dst FROM {eprev} e
        JOIN s{r} a ON e.src = a.node
        JOIN s{r} b ON e.dst = b.node
    ), d{r} AS MATERIALIZED (
        SELECT s.node, CAST(COALESCE(c.c, 0) AS BIGINT) AS deg
        FROM s{r} s LEFT JOIN (
            SELECT src AS node, COUNT(*) AS c FROM e{r} GROUP BY src
        ) c ON c.node = s.node
    )"""


def _kcore_peel_round(edges: DataFrame, deg: DataFrame,
                      r: int) -> tuple[DataFrame, DataFrame,
                                       DataFrame, DataFrame]:
    """One k-core peel: (removed-this-round, survivors, induced
    edges, survivor degrees). The induced subgraph is two SEMI-joins
    against the survivor list — the edge relation shrinks in place,
    never rebuilt from the original graph (plan-pinned)."""
    rem = (deg.where(F.col("deg") < KCORE_K)
           .select("node", F.lit(r).alias("removed_round")))
    surv = (deg.where(F.col("deg") >= KCORE_K).select("node")
            .localCheckpoint(eager=False))
    new_edges = (edges
                 .join(F.broadcast(surv.withColumnRenamed("node", "src")),
                       "src", "semi")
                 .join(F.broadcast(surv.withColumnRenamed("node", "dst")),
                       "dst", "semi"))
    cnt = (new_edges.groupBy(F.col("src").alias("node"))
           .agg(F.count(F.lit(1)).alias("c")))
    new_deg = (surv.join(F.broadcast(cnt), "node", "left")
               .select("node", F.coalesce(F.col("c"), F.lit(0))
                       .cast("bigint").alias("deg")))
    return rem, surv, new_edges, new_deg


@query(
    "kcore_decomposition",
    oracle=f"""
    WITH {_P75_EDGES_SQL},
    d0 AS MATERIALIZED (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges GROUP BY src
    ),{_kcore_round_sql('edges', 'd0', 1)},
    {_kcore_round_sql('e1', 'd1', 2)},
    {_kcore_round_sql('e2', 'd2', 3)}
    SELECT d0.node, d0.deg AS deg0,
           CAST(CASE WHEN d0.node IN (SELECT node FROM rem1) THEN 1
                     WHEN d0.node IN (SELECT node FROM rem2) THEN 2
                     WHEN d0.node IN (SELECT node FROM rem3) THEN 3
                     ELSE 0 END AS BIGINT) AS removed_round,
           CAST(COALESCE(d3.deg, 0) AS BIGINT) AS core_deg
    FROM d0 LEFT JOIN d3 ON d3.node = d0.node
    """,
)
def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (K=5, three unrolled
    rounds — the BFS/SSSP unroll precedent): repeatedly remove nodes
    whose degree in the SURVIVING subgraph falls below K, reporting
    each node's original degree, the round it was peeled (0 =
    survived all three), and its degree inside the remaining core.
    The core is the standard community/spam-pruning primitive — a
    high-degree node whose neighbors are all peripheral is peeled
    once its support evaporates, which plain degree thresholding
    cannot express.

    Runs on the p75 strong-tie graph (shared `_p75_strong_edges`
    derivation — the fixed-threshold demo graph is complete, so there
    would be nothing to peel). Each round is one degree aggregate +
    two semi-joins to induce the surviving subgraph — shuffles carry
    edges of the shrinking graph only; at 100 TB rounds continue to a
    fixpoint with the CC convergence-count pattern, and the peel is
    exactly Matula–Beck made data-parallel (all sub-K nodes peel at
    once per round)."""
    cat = Catalog(spark, sf_dir)
    _, edges = _p75_strong_edges(cat)
    edges = edges.localCheckpoint(eager=False)
    d0 = (edges.groupBy(F.col("src").alias("node"))
          .agg(F.count(F.lit(1)).alias("deg"))
          .localCheckpoint(eager=False))

    deg_cur, edges_cur = d0, edges
    removed = []
    for r in (1, 2, 3):
        rem, surv, edges_cur, deg_cur = _kcore_peel_round(
            edges_cur, deg_cur, r)
        removed.append(rem)
        edges_cur = edges_cur.localCheckpoint(eager=False)
        deg_cur = deg_cur.localCheckpoint(eager=False)

    rem = removed[0].unionByName(removed[1]).unionByName(removed[2])
    return (d0.select("node", F.col("deg").alias("deg0"))
            .join(F.broadcast(rem), "node", "left")
            .join(F.broadcast(deg_cur.withColumnRenamed("deg", "core_deg")),
                  "node", "left")
            .select("node", "deg0",
                    F.coalesce(F.col("removed_round"), F.lit(0))
                    .cast("bigint").alias("removed_round"),
                    F.coalesce(F.col("core_deg"), F.lit(0))
                    .cast("bigint").alias("core_deg")))


def _lpa_round_sql(lab_prev: str, r: int) -> str:
    """One synchronous LPA round in DuckDB: each node adopts the most
    frequent label among its neighbors, ties to the smallest label."""
    return f"""lab{r} AS (
        SELECT node, label FROM (
            SELECT e.src AS node, l.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.src
                       ORDER BY COUNT(*) DESC, l.label) AS rn
            FROM edges e JOIN {lab_prev} l ON l.node = e.dst
            GROUP BY e.src, l.label
        ) WHERE rn = 1
    )"""


def _lpa_round(edges: DataFrame, lab: DataFrame) -> DataFrame:
    """Spark twin of :func:`_lpa_round_sql`: argmax-count by one
    struct-min aggregate (no window) — min(struct(-count, label))
    is "most frequent, smallest label on ties"."""
    msg = (edges.join(F.broadcast(lab), edges.dst == lab.node)
           .select(edges.src.alias("node"), "label"))
    cnt = msg.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
    best = (cnt.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                F.col("label").alias("label")))
                 .alias("b")))
    return best.select("node", F.col("b.label").alias("label"))


#: The full 3-round LPA label derivation, shared by the community
#: listing and the modularity score (same contract, one definition).
_LPA_CHAIN_SQL = f"""lab0 AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
    ),
    {_lpa_round_sql('lab0', 1)},
    {_lpa_round_sql('lab1', 2)},
    {_lpa_round_sql('lab2', 3)}"""


def _lpa_labels(edges: DataFrame) -> DataFrame:
    """(node, label) after 3 synchronous rounds — Spark twin of
    ``_LPA_CHAIN_SQL``; callers pass an already-checkpointed edge
    relation so the basket derivation runs once per plan."""
    lab = (edges.select(F.col("src").alias("node")).distinct()
           .select("node", F.col("node").alias("label")))
    for _ in range(3):
        lab = _lpa_round(edges, lab)
    return lab


@query(
    "label_propagation_communities",
    oracle=f"""
    WITH {_P75_EDGES_SQL}, {_LPA_CHAIN_SQL}
    SELECT node, label AS community,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT)
               AS community_size
    FROM lab3
    ORDER BY community, node
    """,
)
def label_propagation_communities(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA)
    over the p75 strong-tie brand graph — the third resident of the
    shared-graph family beside ``link_prediction_common_neighbors``
    and ``kcore_decomposition``. Three fixed synchronous rounds:
    every node simultaneously adopts the most frequent label among
    its neighbors, ties broken to the SMALLEST label — the
    deterministic variant (classic LPA randomizes tie-breaks and
    update order; a data engine cannot, so the tie rule and the
    synchronous schedule are part of the contract and the oracle
    replays both exactly).

    Each round is one edges⋈labels equi-join plus two aggregates; the
    argmax is a struct-min (min(struct(-count, label))), not a
    window, so per-round shuffles carry (node, label, count) rows
    bounded by Σ degree — at 100 TB this is the standard
    message-passing shape (same as PageRank's), and the fixed round
    count composes into ONE lazy Catalyst plan with no driver
    round-trips.
    """
    cat = Catalog(spark, sf_dir)
    _, edges = _p75_strong_edges(cat)
    edges = edges.localCheckpoint(eager=False)
    from pyspark.sql import Window as W

    lab = _lpa_labels(edges)
    return (lab.select(
                F.col("node"), F.col("label").alias("community"),
                F.count(F.lit(1)).over(
                    W.partitionBy("label")).alias("community_size"))
            .orderBy("community", "node"))


@query(
    "community_modularity",
    oracle=f"""
    WITH {_P75_EDGES_SQL}, {_LPA_CHAIN_SQL}, mm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m FROM strong
    ), within AS (
        SELECT la.label AS community, CAST(COUNT(*) AS BIGINT) AS e_c
        FROM strong s
        JOIN lab3 la ON la.node = s.src
        JOIN lab3 lb ON lb.node = s.dst
        WHERE la.label = lb.label
        GROUP BY la.label
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges GROUP BY src
    ), per_comm AS (
        SELECT l.label AS community,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(CAST(SUM(d.deg) AS BIGINT) AS BIGINT) AS d_c
        FROM lab3 l JOIN deg d ON d.node = l.node
        GROUP BY l.label
    )
    SELECT p.community, p.n_nodes,
           COALESCE(w.e_c, 0) AS e_c, p.d_c, mm.m,
           CAST(1000000 * COALESCE(w.e_c, 0) // mm.m AS BIGINT)
               AS within_micros,
           CAST(1000000 * p.d_c * p.d_c // (4 * mm.m * mm.m)
                AS BIGINT) AS expected_micros,
           CAST(1000000 * COALESCE(w.e_c, 0) // mm.m
                - 1000000 * p.d_c * p.d_c // (4 * mm.m * mm.m)
                AS BIGINT) AS contribution_micros
    FROM per_comm p
    LEFT JOIN within w ON w.community = p.community
    CROSS JOIN mm
    ORDER BY p.community
    """,
)
def community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition — the quality score
    that tells you whether ``label_propagation_communities`` found
    structure or noise: Q = Σ_c (e_c/m − (d_c/2m)²), per-community
    contributions emitted so the global Q is their plain sum.

    Exact-arithmetic shape: both terms are floor-divs of NONNEGATIVE
    integers (within_micros = 10⁶·e_c div m, expected_micros =
    10⁶·d_c² div 4m²), so Spark's truncating ``div`` and DuckDB's
    flooring ``//`` agree; the possibly-negative contribution is a
    SUBTRACTION of the already-floored terms, never a negative
    floor-div (where the two engines' rounding directions differ —
    the determinism rule that shaped this lane).

    Plan: the strong-edge relation is lazily checkpointed and reused
    by the LPA chain, the within-community edge count (two
    label-table joins — broadcast-sized at any SF since labels live
    on the node relation), and the degree sum. Everything after the
    shared basket aggregate shuffles graph-metadata rows only.
    """
    cat = Catalog(spark, sf_dir)
    strong, _ = _p75_strong_edges(cat)
    strong = strong.localCheckpoint(eager=False)
    edges = strong.unionByName(
        strong.select(F.col("dst").alias("src"),
                      F.col("src").alias("dst")))
    lab = _lpa_labels(edges).localCheckpoint(eager=False)

    mm = strong.agg(F.count(F.lit(1)).alias("m"))
    la = lab.select(F.col("node").alias("src"),
                    F.col("label").alias("lab_a"))
    lb = lab.select(F.col("node").alias("dst"),
                    F.col("label").alias("lab_b"))
    within = (strong.join(F.broadcast(la), "src")
              .join(F.broadcast(lb), "dst")
              .filter(F.col("lab_a") == F.col("lab_b"))
              .groupBy(F.col("lab_a").alias("community"))
              .agg(F.count(F.lit(1)).alias("e_c")))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    per_comm = (lab.join(F.broadcast(deg), "node")
                .groupBy(F.col("label").alias("community"))
                .agg(F.count(F.lit(1)).alias("n_nodes"),
                     F.sum("deg").alias("d_c")))
    return (per_comm
            .join(within, "community", "left")
            .crossJoin(F.broadcast(mm))
            .select(
                "community", "n_nodes",
                F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
                "d_c", "m",
                F.expr("1000000 * coalesce(e_c, 0) div m")
                .alias("within_micros"),
                F.expr("1000000 * d_c * d_c div (4 * m * m)")
                .alias("expected_micros"))
            .withColumn("contribution_micros",
                        F.col("within_micros") - F.col("expected_micros"))
            .orderBy("community"))


@query(
    "item_cf_similarity",
    oracle=f"""
    WITH ob AS ({_BASKET_SQL}),
    deg AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n
        FROM ob GROUP BY p_brand
    ), pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
    )
    SELECT p.brand_a, p.brand_b, p.n_ab,
           da.n AS n_a, db.n AS n_b,
           CAST(1000000000000 * CAST(p.n_ab AS HUGEINT) * p.n_ab
                // (CAST(da.n AS HUGEINT) * db.n)
                AS BIGINT) AS cosine_sq_picos
    FROM pairs p
    JOIN deg da ON da.p_brand = p.brand_a
    JOIN deg db ON db.p_brand = p.brand_b
    ORDER BY cosine_sq_picos DESC, brand_a, brand_b
    LIMIT 10
    """,
)
def item_cf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering similarity — the
    "customers who bought X also bought Y" primitive: cosine over
    binary basket vectors, cos(a,b) = n_ab / √(n_a·n_b). The
    engine's determinism policy forbids runtime sqrt, so the RANKING
    statistic is the SQUARED cosine in exact pico units
    (10¹²·n_ab² div (n_a·n_b)) — a monotone transform, so the top-10
    is the same list cosine would give, and every emitted value
    hash-verifies. The normalization distinguishes this from
    ``basket_brand_pair_lift``: lift finds surprising pairs, cosine
    finds strong pairs (popularity-damped by both degrees).

    One deduped basket aggregate, a per-order pair explode, names and
    degrees from one broadcast map row, TakeOrdered top-10.
    """
    cat = Catalog(spark, sf_dir)
    # The basket-set relation feeds both the marginals and the pair
    # counts — checkpoint it so the lineitem⋈part derivation runs once
    # (different downstream keys: brand vs pair — the r11 rule).
    sets = _basket_sets(cat).localCheckpoint(eager=False)
    ex = (sets.select(F.explode("bs").alias("sid"), "bs")
          .select("sid", F.explode("bs").alias("did"))
          .filter(F.col("sid") < F.col("did")))
    cnt = ex.groupBy("sid", "did").agg(F.count(F.lit(1)).alias("n_ab"))
    # Names and degrees in ONE broadcast row, b: map<bid, struct<p_brand,
    # n>> (the basket_brand_pair_lift shape), so the brand dictionary
    # (a ``part`` scan) is derived once, not at each of its references.
    b = F.broadcast(
        sets.select(F.explode("bs").alias("bid"))
        .groupBy("bid").agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(_brand_dim(cat)), "bid")
        .agg(F.map_from_entries(F.collect_list(F.struct(
            "bid", F.struct("p_brand", "n")))).alias("b")))
    return (cnt.crossJoin(b)
            .selectExpr("b[sid].p_brand AS brand_a",
                        "b[did].p_brand AS brand_b", "n_ab",
                        "b[sid].n AS n_a", "b[did].n AS n_b")
            .select("brand_a", "brand_b", "n_ab", "n_a", "n_b",
                    # 128-bit lane: 10^12 * n_ab^2 overflows int64 once
                    # pair support passes ~3000 (seen at sf0.1) — the
                    # numerator runs in DECIMAL(38,0)/HUGEINT and only
                    # the quotient (<= 10^12 by cosine <= 1) comes back
                    # to BIGINT.
                    F.expr("CAST(CAST(1000000000000 AS DECIMAL(38,0))"
                           " * n_ab * n_ab"
                           " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
                           " AS BIGINT)").alias("cosine_sq_picos"))
            .orderBy(F.col("cosine_sq_picos").desc(),
                     "brand_a", "brand_b")
            .limit(10))


#: Personalized-PageRank seed count: the |S| smallest brand ids.
PPR_SEEDS = 3


def _ppr_oracle() -> str:
    """Unrolled personalized-PageRank chain: same fixed-point
    message arithmetic as ``_pr_oracle``, but teleport mass goes to
    the seed set only (0 elsewhere) and ranks start on the seeds."""
    s = int(PR_SCALE)
    tele = (f"CASE WHEN n.node IN (SELECT node FROM seeds) THEN "
            f"CAST(ROUND({1 - DAMPING} * {s:.1f} / {PPR_SEEDS}) AS BIGINT) "
            f"ELSE 0 END")
    iters = [f"""
    pr0 AS (
        SELECT n.node,
               CASE WHEN n.node IN (SELECT node FROM seeds)
                    THEN CAST(ROUND({s:.1f} / {PPR_SEEDS}) AS BIGINT)
                    ELSE 0 END AS pr
        FROM nodes n
    )"""]
    for k in range(PR_ITERS):
        iters.append(f"""
    pr{k + 1} AS (
        SELECT n.node, {tele} + COALESCE(m.msum, 0) AS pr
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(CAST(ROUND({DAMPING} * CAST(p.pr AS DOUBLE)
                                       / d.deg) AS BIGINT)) AS BIGINT)
                       AS msum
            FROM pr{k} p
            JOIN deg d ON d.node = p.node
            JOIN edges e ON e.src = p.node
            WHERE p.pr <> 0
            GROUP BY e.dst
        ) m ON m.node = n.node
    )""")
    return f"""
    WITH {_EDGES_SQL},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    seeds AS (SELECT node FROM nodes ORDER BY node LIMIT {PPR_SEEDS}),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges GROUP BY src
    ),{','.join(iters)}
    SELECT p.node AS brand, p.pr AS ppr_fixed,
           CAST(p.pr AS DOUBLE) / {s:.1f} AS ppr,
           CAST(p.node IN (SELECT node FROM seeds) AS BIGINT) AS is_seed
    FROM pr{PR_ITERS} p
    WHERE p.pr <> 0
    ORDER BY ppr_fixed DESC, brand
    """


@query("personalized_pagerank_brands", oracle=_ppr_oracle())
def personalized_pagerank_brands(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed set — the recommendation
    primitive global PageRank is not: teleport mass returns to the
    SEEDS (here the 3 smallest brand ids — a stand-in for "brands
    this user bought"), so the stationary mass measures proximity TO
    THE SEEDS through the co-occurrence graph, and the top non-seed
    scores are the "customers also bought" ranking. Same exact
    fixed-point message arithmetic as ``pagerank_brand_graph`` (every
    contribution pre-rounded to 1e-9, bit-stable under any
    parallelism; shared ``_directed_edges`` derivation), with two PPR
    differences: rank starts on the seeds, and zero-rank nodes send
    no messages — the frontier property that lets 100 TB PPR touch
    only the seeds' neighborhood for the first rounds rather than
    the whole graph.
    """
    cat = Catalog(spark, sf_dir)
    # The basket-derived edge list feeds every round (plus the node,
    # seed, and degree relations): checkpoint it once or the fact
    # join re-derives per reference — the audit measured 60 lineitem
    # scans in the unchecked plan.
    edges = _directed_edges(cat).localCheckpoint(eager=False)
    nodes = (edges.select(F.col("src").alias("node")).distinct()
             .localCheckpoint(eager=False))
    seeds = nodes.orderBy("node").limit(PPR_SEEDS) \
        .localCheckpoint(eager=False)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    seed_flag = F.col("seed_node").isNotNull()
    pr = (nodes.join(F.broadcast(seeds.select(F.col("node")
                                              .alias("seed_node"))),
                     nodes.node == F.col("seed_node"), "left")
          .select("node",
                  F.when(seed_flag,
                         F.round(F.lit(PR_SCALE) / PPR_SEEDS)
                         .cast("long"))
                  .otherwise(F.lit(0).cast("long")).alias("pr")))
    teleport = F.when(
        F.col("seed_node").isNotNull(),
        F.round(F.lit((1 - DAMPING) * PR_SCALE) / PPR_SEEDS)
        .cast("long")).otherwise(F.lit(0).cast("long"))
    # A/B'd (r12): the PageRank-style per-round broadcast reshape
    # measured SLOWER here (2.28 → 2.93 s) — PPR's extra seed join
    # makes it 3 serialized broadcast builds per round; the shuffle
    # shape lets AQE pipeline the tiny exchanges instead. Kept as-is.
    for _ in range(PR_ITERS):
        msgs = (pr.filter(F.col("pr") != 0)
                .join(deg, "node")
                .join(edges, pr.node == edges.src)
                .select(
                    F.col("dst").alias("node"),
                    F.round(F.lit(DAMPING) * F.col("pr").cast("double")
                            / F.col("deg")).cast("long").alias("m")))
        msum = msgs.groupBy("node").agg(F.sum("m").alias("msum"))
        pr = (nodes.join(msum, "node", "left")
              .join(F.broadcast(seeds.select(F.col("node")
                                             .alias("seed_node"))),
                    nodes.node == F.col("seed_node"), "left")
              .select("node",
                      (teleport + F.coalesce("msum", F.lit(0)))
                      .alias("pr")))
    return (pr.filter(F.col("pr") != 0)
            .join(F.broadcast(seeds.select(F.col("node")
                                           .alias("seed_node"))),
                  pr.node == F.col("seed_node"), "left")
            .select(F.col("node").alias("brand"),
                    F.col("pr").alias("ppr_fixed"),
                    (F.col("pr").cast("double") / PR_SCALE).alias("ppr"),
                    F.col("seed_node").isNotNull().cast("long")
                    .alias("is_seed"))
            .orderBy(F.col("ppr_fixed").desc(), "brand"))


def _apsp_oracle() -> str:
    """Unrolled multi-source BFS (every node a source) -> per-node
    eccentricity within the BFS_DEPTH horizon + graph diameter."""
    steps = ["""
    d0 AS (
        SELECT s.node AS source, n.node,
               CASE WHEN s.node = n.node
                    THEN CAST(0 AS BIGINT) END AS dist
        FROM nodes s, nodes n
    )"""]
    for k in range(BFS_DEPTH):
        steps.append(f"""
    d{k + 1} AS (
        SELECT n.source, n.node,
               least(n.dist, m.reach + 1) AS dist
        FROM d{k} n LEFT JOIN (
            SELECT p.source, e.dst AS node, min(p.dist) AS reach
            FROM d{k} p JOIN edges e ON e.src = p.node
            WHERE p.dist IS NOT NULL
            GROUP BY p.source, e.dst
        ) m ON m.source = n.source AND m.node = n.node
    )""")
    return f"""
    WITH {_EDGES_SQL},
    nodes AS (SELECT DISTINCT src AS node FROM edges),{','.join(steps)},
    ecc AS (
        SELECT source AS brand,
               CAST(MAX(dist) AS BIGINT) AS eccentricity,
               CAST(COUNT(dist) AS BIGINT) AS n_reached
        FROM d{BFS_DEPTH}
        GROUP BY source
    )
    SELECT brand, eccentricity, n_reached,
           CAST((SELECT MAX(eccentricity) FROM ecc) AS BIGINT)
               AS diameter
    FROM ecc
    ORDER BY brand
    """


@query("graph_eccentricity_diameter", oracle=_apsp_oracle())
def graph_eccentricity_diameter(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Eccentricity and diameter via all-pairs BFS — the graph-shape
    diagnostic (is this network a tight clique or a chain?): every
    node seeds a BFS simultaneously (the distance relation is keyed
    (source, node); each relaxation round is ONE join on the shared
    edge list — multi-source costs the same round COUNT as
    single-source, rows scale |V|×|V| which is fine for entity
    graphs at brand/category grain), unrolled BFS_DEPTH rounds.
    Eccentricity = max distance REACHED within the horizon (the
    declared contract, same as the BFS operator; n_reached exposes
    truncation honestly); diameter = max eccentricity, broadcast
    back as a column. On million-node graphs you sample sources or
    run HADI/ANF sketches instead — this operator is the exact
    small-graph tier.

    The rounds are ``_relax`` keyed by source, seeded with (source,
    source, 0) per node; the distance relation holds reached rows
    only, so ``count(dist)`` needs no join back to the node set.
    """
    cat = Catalog(spark, sf_dir)
    edges = _directed_edges(cat).localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    seed = nodes.select(F.col("node").alias("source"), "node",
                        F.lit(0).cast("long").alias("dist"))
    d = _relax(_hops(edges, nodes, F.lit(1)), seed, BFS_DEPTH,
               by=("source",))
    ecc = (d.groupBy(F.col("source").alias("brand"))
           .agg(F.max("dist").alias("eccentricity"),
                F.count("dist").alias("n_reached")))
    diam = ecc.agg(F.max("eccentricity").alias("diameter"))
    return (ecc.crossJoin(F.broadcast(diam))
            .select("brand", "eccentricity", "n_reached", "diameter")
            .orderBy("brand"))


@query(
    "scc_mutual_reach_brands",
    oracle="""
    WITH RECURSIVE ob AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), pairs AS MATERIALIZED (
        SELECT o_orderkey AS ok_a,
               LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate NULLS LAST,
                                               o_orderkey) AS ok_b
        FROM orders
    ), raw AS MATERIALIZED (
        SELECT x.p_brand AS src, y.p_brand AS dst,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs JOIN ob x ON pairs.ok_a = x.l_orderkey
                   JOIN ob y ON pairs.ok_b = y.l_orderkey
        WHERE x.p_brand <> y.p_brand
        GROUP BY 1, 2
    ), edges AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY n DESC, dst) AS rk
            FROM raw) WHERE rk <= 2
    ), reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), nodes AS (
        SELECT src AS b FROM edges UNION SELECT dst FROM edges
    ), mutual AS (
        SELECT b, b AS other FROM nodes
        UNION
        SELECT r1.src, r1.dst
        FROM reach r1 JOIN reach r2
          ON r1.src = r2.dst AND r1.dst = r2.src
    ), scc AS (
        SELECT b, MIN(other) AS scc_id FROM mutual GROUP BY b
    )
    SELECT b AS brand, scc_id,
           CAST(COUNT(*) OVER (PARTITION BY scc_id) AS BIGINT) AS scc_size
    FROM scc
    """,
)
def scc_mutual_reach_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly-connected components of the DIRECTED brand-transition
    graph: an edge src -> dst means customers who bought src in one
    order bought dst in their NEXT order, kept only for each brand's
    top-2 follow-ups (non-vacuity checked at design time on all three
    SFs: one 3-6-brand cycle plus singletons — the co-occurrence
    graph is symmetric, where SCC would degenerate to CC). A brand's
    SCC id is the MIN brand among its mutually-reachable set; the
    oracle recomputes it via a recursive-CTE transitive closure (its
    pre-closure CTEs are AS MATERIALIZED: DuckDB otherwise re-inlines
    the whole edge-derivation chain into every recursive iteration —
    measured 13.5 s -> 0.34 s at sf0.01, identical result).

    Spark side: the transition edges come from one LEAD pass over
    orders (no self-join) joined to the basket brands; the closure
    then runs ~log2(|brands|) = 5 DOUBLING rounds (R := R union R∘R,
    reaching all paths up to length 32 > 25 brands) on the
    checkpointed, metadata-sized edge relation — bounded shuffle
    rounds with no driver feedback, the pointer-jumping discipline of
    ``neardup_cluster_assignment``.
    """
    cat = Catalog(spark, sf_dir)
    ob = (cat.lineitem.select("l_orderkey", "l_partkey")
          .join(F.broadcast(cat.part.select("p_partkey", "p_brand")),
                F.col("l_partkey") == F.col("p_partkey"))
          .select("l_orderkey", "p_brand").distinct())
    wseq = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), "o_orderkey")
    pairs = (cat.orders
             .select(F.col("o_orderkey").alias("ok_a"),
                     F.lead("o_orderkey").over(wseq).alias("ok_b"))
             .filter(F.col("ok_b").isNotNull()))
    x = ob.select(F.col("l_orderkey").alias("ok_a"),
                  F.col("p_brand").alias("src"))
    y = ob.select(F.col("l_orderkey").alias("ok_b"),
                  F.col("p_brand").alias("dst"))
    raw = (pairs.join(x, "ok_a").join(y, "ok_b")
           .filter(F.col("src") != F.col("dst"))
           .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n")))
    rk = F.row_number().over(
        W.partitionBy("src").orderBy(F.col("n").desc(), "dst"))
    edges = (raw.withColumn("rk", rk).filter(F.col("rk") <= 2)
             .select("src", "dst").localCheckpoint(eager=False))
    reach = edges
    for _ in range(5):  # doubling: path length 2^5 = 32 > 25 brands
        # The closure relation is |brands|²-bounded at any SF —
        # broadcast the join side (guide §3.1).
        step = (reach.alias("r").join(F.broadcast(reach.alias("e")),
                                      F.col("r.dst") == F.col("e.src"))
                .select(F.col("r.src").alias("src"),
                        F.col("e.dst").alias("dst")))
        reach = (reach.unionByName(step).distinct()
                 .localCheckpoint(eager=False))
    rev = reach.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"))
    mutual = (reach.join(F.broadcast(rev), ["src", "dst"], "left_semi")
              .select(F.col("src").alias("b"), F.col("dst").alias("other")))
    nodes = (edges.select(F.col("src").alias("b"))
             .unionByName(edges.select(F.col("dst").alias("b")))
             .distinct())
    allm = mutual.unionByName(
        nodes.select("b", F.col("b").alias("other"))).distinct()
    scc = allm.groupBy("b").agg(F.min("other").alias("scc_id"))
    size = F.count(F.lit(1)).over(W.partitionBy("scc_id"))
    return scc.select(F.col("b").alias("brand"), "scc_id",
                      size.cast("long").alias("scc_size"))
