"""Differential predicate fuzzing: randomly generated WHERE clauses
executed by Spark SQL and DuckDB over the same lineitem data — both
engines receive the *identical* SQL text, so any row-set disagreement
is an engine-semantics bug in our catalog/canonicalization layer.

Deterministic seeds (not hypothesis) keep each case reproducible and
the Spark round-trips bounded. Predicates draw from the columns where
cross-engine semantics are exact: integers, integral-valued doubles,
2-decimal doubles compared against 2-decimal literals (both engines
parse the literal to the same binary double), strings, and
midnight-aligned timestamps vs date literals.
"""

from __future__ import annotations

import random

import pytest

from .conftest import SF_ORACLE

_NUM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
_QTY = "l_quantity"
_DISC = "l_discount"
_STR_COLS = {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["O", "F"]}
_OPS = ["<", "<=", "=", "<>", ">", ">="]


def _atom(rng: random.Random) -> str:
    kind = rng.randrange(5)
    if kind == 0:
        col = rng.choice(_NUM_COLS)
        return f"{col} {rng.choice(_OPS)} {rng.randrange(0, 3000)}"
    if kind == 1:
        return f"{_QTY} {rng.choice(_OPS)} {rng.randrange(1, 51)}"
    if kind == 2:
        return f"{_DISC} {rng.choice(_OPS)} 0.0{rng.randrange(0, 10)}"
    if kind == 3:
        col = rng.choice(list(_STR_COLS))
        vals = _STR_COLS[col]
        if rng.random() < 0.5:
            return f"{col} = '{rng.choice(vals)}'"
        picks = rng.sample(vals, k=rng.randrange(1, len(vals) + 1))
        quoted = ", ".join(f"'{v}'" for v in picks)
        return f"{col} IN ({quoted})"
    day = rng.randrange(1, 28)
    month = rng.randrange(1, 13)
    year = rng.randrange(1993, 1999)
    return (f"l_shipdate {rng.choice(_OPS)} "
            f"TIMESTAMP '{year:04d}-{month:02d}-{day:02d}'")


def _predicate(rng: random.Random, depth: int = 0) -> str:
    if depth < 2 and rng.random() < 0.6:
        conj = rng.choice(["AND", "OR"])
        left = _predicate(rng, depth + 1)
        right = _predicate(rng, depth + 1)
        neg = "NOT " if rng.random() < 0.2 else ""
        return f"{neg}(({left}) {conj} ({right}))"
    return _atom(rng)


_SELECT = ("SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, "
           "l_shipdate FROM lineitem WHERE {where}")


@pytest.mark.parametrize("seed", range(25))
def test_fuzzed_predicate_agrees(seed, spark, duck):
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(1000 + seed)
    where = _predicate(rng)
    sql = _SELECT.format(where=where)
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for WHERE {where}: " \
        f"{len(got)} vs {len(want)} rows"


_GROUP_COLS = ["l_returnflag", "l_linestatus", "l_suppkey", "l_linenumber"]


@pytest.mark.parametrize("seed", range(15))
def test_fuzzed_groupby_agrees(seed, spark, duck):
    """Fuzzed GROUP BY: random grouping keys + integer-exact aggregates
    (counts, distinct counts, integral-quantity sums) under a random
    predicate — same SQL text to both engines."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(5000 + seed)
    keys = rng.sample(_GROUP_COLS, k=rng.randrange(1, 3))
    where = _predicate(rng)
    dcol = rng.choice(_NUM_COLS)
    sql = (
        f"SELECT {', '.join(keys)}, "
        f"CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(COUNT(DISTINCT {dcol}) AS BIGINT) AS nd, "
        f"CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq "
        f"FROM lineitem WHERE {where} GROUP BY {', '.join(keys)}"
    )
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_window_agrees(seed, spark, duck):
    """Fuzzed window functions: rank/row_number and running integer
    sums over a deterministic total order (orderkey, linenumber) —
    same SQL text to both engines."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(9000 + seed)
    key = rng.choice(["l_returnflag", "l_linestatus", "l_suppkey"])
    where = _predicate(rng)
    fn = rng.choice(["ROW_NUMBER()", "RANK()", "DENSE_RANK()"])
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
    # adding l_quantity makes rows tied on the order key carry equal
    # summands, so every per-row running value — and the output
    # multiset — is permutation-invariant within ties.
    sql = (
        f"SELECT l_orderkey, l_linenumber, "
        f"CAST({fn} OVER w AS BIGINT) AS rk, "
        f"CAST(SUM(CAST(l_quantity AS BIGINT)) OVER "
        f"(PARTITION BY {key} ORDER BY l_orderkey, l_linenumber, "
        f"l_quantity ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run "
        f"FROM lineitem WHERE {where} "
        f"WINDOW w AS (PARTITION BY {key} "
        f"ORDER BY l_orderkey, l_linenumber, l_quantity)"
    )
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_join_agg_agrees(seed, spark, duck):
    """Fuzzed fact-fact joins: orders x lineitem on the natural key
    under a random lineitem predicate plus a random orders predicate,
    aggregated with integer-exact measures — same SQL to both."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem", "orders"))
    rng = random.Random(13000 + seed)
    where = _predicate(rng)
    prio = rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
    okey = rng.choice(["o_orderpriority", "o_orderstatus"])
    sql = (
        f"SELECT {okey}, l_returnflag, "
        f"CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq "
        f"FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        f"WHERE ({where}) AND o_orderpriority <> '{prio}' "
        f"GROUP BY {okey}, l_returnflag"
    )
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_grouping_sets_agrees(seed, spark, duck):
    """Fuzzed multi-grain aggregation: ROLLUP / CUBE / explicit
    GROUPING SETS over random key subsets with per-key GROUPING()
    discriminators — same SQL text to both engines. This guards the
    Expand-operator grain arithmetic (which subtotal rows exist, and
    with which keys nulled) the registered rollup operators rely on.

    Empty-input grain is deliberately excluded: over zero input rows
    Spark SQL omits the () global-aggregate row where DuckDB emits it
    — a known engine deviation the OPERATORS fix with the phantom-row
    plan (round 5); raw SQL text cannot carry that fix, so an
    all-rows-filtered seed is skipped rather than reported as a fuzz
    catch."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(29000 + seed)
    keys = rng.sample(_GROUP_COLS, k=rng.randrange(2, 4))
    where = _predicate(rng)
    form = rng.randrange(3)
    klist = ", ".join(keys)
    if form == 0:
        grouping = f"ROLLUP ({klist})"
    elif form == 1:
        grouping = f"CUBE ({klist})"
    else:
        subsets = [klist, keys[0], ""]
        grouping = ("GROUPING SETS (" +
                    ", ".join(f"({s})" for s in subsets) + ")")
    if spark.sql(f"SELECT COUNT(*) FROM lineitem WHERE {where}"
                 ).first()[0] == 0:
        pytest.skip("empty input: () row divergence is a documented "
                    "engine deviation, fixed operator-side only")
    gcols = ", ".join(f"CAST(GROUPING({k}) AS BIGINT) AS g_{k}"
                      for k in keys)
    sql = (
        f"SELECT {klist}, {gcols}, "
        f"CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq "
        f"FROM lineitem WHERE {where} GROUP BY {grouping}"
    )
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


def _int_expr(rng: random.Random) -> str:
    """Random integer scalar expression with exact cross-engine
    semantics (no division, no floats — overflow-safe small lanes)."""
    kind = rng.randrange(5)
    a, b = rng.choice(_NUM_COLS), rng.choice(_NUM_COLS)
    if kind == 0:
        return f"{a} + {b} * {rng.randrange(1, 4)}"
    if kind == 1:
        return f"abs({a} - {rng.randrange(0, 3000)})"
    if kind == 2:
        return f"greatest({a}, {b})" if rng.random() < 0.5 else \
               f"least({a}, {b})"
    if kind == 3:
        return (f"CASE WHEN {_atom(rng)} THEN {a} "
                f"ELSE {rng.randrange(0, 100)} END")
    return f"coalesce(nullif({a}, {rng.randrange(1, 8)}), -1)"


def _str_expr(rng: random.Random) -> str:
    """Random string scalar expression over the low-cardinality ASCII
    flag columns (multibyte semantics live in the sweep's unicode
    replica; this class pins the function surface itself)."""
    col = rng.choice(list(_STR_COLS))
    kind = rng.randrange(5)
    if kind == 0:
        return f"upper({col}) || lower({col})"
    if kind == 1:
        return f"substr({col} || '{rng.choice('XYZ')}', 1, 2)"
    if kind == 2:
        return f"trim(' ' || {col} || ' ')"
    if kind == 3:
        return f"concat({col}, '-', CAST(l_linenumber AS VARCHAR))"
    return f"nullif({col}, '{rng.choice(_STR_COLS[col])}')"


@pytest.mark.parametrize("seed", range(15))
def test_fuzzed_scalar_expr_agrees(seed, spark, duck):
    """Fuzzed scalar expressions in the projection: CASE / COALESCE /
    NULLIF / abs / greatest / least integer lanes plus string-function
    chains (upper, lower, substr, trim, ||, concat) — same SQL text to
    both engines. NULLIF injects genuine NULLs into otherwise
    non-null columns, so null propagation through each function is
    exercised, not just the happy path."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(33000 + seed)
    where = _predicate(rng)
    sql = (
        f"SELECT l_orderkey, l_linenumber, "
        f"CAST({_int_expr(rng)} AS BIGINT) AS x, "
        f"{_str_expr(rng)} AS s "
        f"FROM lineitem WHERE {where}"
    )
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_having_agrees(seed, spark, duck):
    """Fuzzed HAVING: aggregate-level predicates (count floors,
    integer-sum ceilings, conjunctions over both) applied after a
    fuzzed row-level WHERE — the filter-above-aggregate placement both
    engines must resolve identically, including aggregates referenced
    in HAVING but absent from the SELECT list."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(37000 + seed)
    keys = rng.sample(_GROUP_COLS, k=rng.randrange(1, 3))
    where = _predicate(rng)
    floor_n = rng.randrange(1, 20)
    ceil_sq = rng.randrange(100, 20000)
    having = rng.choice([
        f"COUNT(*) >= {floor_n}",
        f"SUM(CAST(l_quantity AS BIGINT)) < {ceil_sq}",
        f"COUNT(*) >= {floor_n} AND "
        f"SUM(CAST(l_quantity AS BIGINT)) < {ceil_sq}",
        f"MAX(l_linenumber) > {rng.randrange(1, 7)}",
    ])
    sql = (
        f"SELECT {', '.join(keys)}, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM lineitem WHERE {where} "
        f"GROUP BY {', '.join(keys)} HAVING {having}"
    )
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_order_limit_agrees(seed, spark, duck):
    """Fuzzed ORDER BY ... LIMIT: per-column random sort directions
    over a projection that equals the full sort tuple, so rows tied
    at the LIMIT boundary are identical as values and the returned
    MULTISET is deterministic on both engines — the top-k contract
    (TakeOrdered on the Spark side) without relying on any engine's
    tie-break."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(41000 + seed)
    where = _predicate(rng)
    k = rng.choice([1, 5, 20, 100])
    cols = ["l_returnflag", "l_orderkey", "l_linenumber", "q"]
    order = ", ".join(
        f"{c} {rng.choice(['ASC', 'DESC'])}" for c in cols)
    sql = (
        f"SELECT l_returnflag, l_orderkey, l_linenumber, "
        f"CAST(l_quantity AS BIGINT) AS q "
        f"FROM lineitem WHERE {where} ORDER BY {order} LIMIT {k}"
    )
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_date_functions_agree(seed, spark, duck):
    """Fuzzed temporal functions: EXTRACT parts, date_trunc grains,
    and interval arithmetic over the midnight-aligned ship timestamps
    — same SQL text to both engines, aggregated so the comparison is
    over the derived calendar keys. Restricted to the parts/grains
    whose semantics the engines share (year/quarter/month/day/hour,
    ISO-Monday week deliberately excluded along with DOW numbering,
    which differ by convention — those live as documented pins, not
    fuzz targets). date_trunc's RESULT TYPE is itself an engine
    difference the first run of this class caught — DuckDB returns
    DATE for date-grain truncs where Spark returns TIMESTAMP — so
    the grain column is CAST to DATE on both sides (lossless here:
    every grain used is date-aligned on midnight-aligned inputs)."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(45000 + seed)
    where = _predicate(rng)
    part = rng.choice(["quarter", "month", "day", "hour"])
    grain = rng.choice(["year", "month", "day"])
    shift = rng.randrange(1, 45)
    sql = (
        f"SELECT CAST(extract(year FROM l_shipdate) AS BIGINT) AS y, "
        f"CAST(extract({part} FROM l_shipdate) AS BIGINT) AS p, "
        f"CAST(date_trunc('{grain}', l_shipdate + INTERVAL {shift} DAY) "
        f"AS DATE) AS g, "
        f"CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM lineitem WHERE {where} GROUP BY 1, 2, 3"
    )
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_window_frame_agrees(seed, spark, duck):
    """Fuzzed window FRAMES: RANGE BETWEEN value offsets and bounded
    ROWS BETWEEN k PRECEDING AND m FOLLOWING — the frame-boundary
    arithmetic the running-sum class (UNBOUNDED PRECEDING only) never
    exercises. Determinism under ties: RANGE frames are value-
    determined (every peer row gets the identical frame regardless of
    within-tie order), and the ROWS variant sorts by (l_orderkey,
    l_linenumber, l_quantity) where tied rows are identical in every
    projected column AND the summand, so the output multiset is
    permutation-invariant."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(49000 + seed)
    where = _predicate(rng)
    key = rng.choice(["l_returnflag", "l_linestatus"])
    if rng.random() < 0.5:
        lo = rng.randrange(1, 500)
        hi = rng.randrange(0, 500)
        frame = (f"RANGE BETWEEN {lo} PRECEDING AND "
                 + (f"{hi} FOLLOWING" if rng.random() < 0.5
                    else "CURRENT ROW"))
        order = "l_orderkey"
    else:
        lo = rng.randrange(0, 4)
        hi = rng.randrange(0, 4)
        frame = f"ROWS BETWEEN {lo} PRECEDING AND {hi} FOLLOWING"
        order = "l_orderkey, l_linenumber, l_quantity"
    sql = (
        f"SELECT {key} AS k, l_orderkey, "
        f"CAST(SUM(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT) AS fs, "
        f"CAST(COUNT(*) OVER w AS BIGINT) AS fn "
        f"FROM lineitem WHERE {where} "
        f"WINDOW w AS (PARTITION BY {key} ORDER BY {order} {frame})")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_nulls_ordering_agrees(seed, spark, duck):
    """Fuzzed explicit NULLS FIRST / NULLS LAST under ORDER BY + LIMIT,
    with NULLs synthesized via nullif on an otherwise non-null key.
    The engines' DEFAULTS genuinely differ (Spark ASC = NULLS FIRST,
    DuckDB ASC = NULLS LAST), so only the explicit forms are fuzzable
    — which is exactly what every registered operator emits. The
    projection equals the full sort tuple, so the multiset at the
    LIMIT boundary is deterministic on both engines."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(53000 + seed)
    where = _predicate(rng)
    k = rng.choice([1, 5, 20])
    nl = rng.choice(["NULLS FIRST", "NULLS LAST"])
    d = rng.choice(["ASC", "DESC"])
    sql = (
        f"SELECT nullif(l_suppkey, {rng.randrange(1, 10)}) AS nk, "
        f"l_returnflag, l_orderkey, l_linenumber, "
        f"CAST(l_quantity AS BIGINT) AS q "
        f"FROM lineitem WHERE {where} "
        f"ORDER BY nk {d} {nl}, l_returnflag, l_orderkey, l_linenumber, q "
        f"LIMIT {k}")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_filter_clause_agrees(seed, spark, duck):
    """Fuzzed aggregate FILTER clauses mixed with multiple DISTINCT
    aggregates in one SELECT — the combination that exercises Spark's
    Expand-based distinct rewrite against DuckDB's. COUNT FILTER over
    an empty filtered set must be 0; SUM FILTER must be NULL (made
    comparable via COALESCE); a FILTERed DISTINCT count rides both
    mechanisms at once."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(57000 + seed)
    where = _predicate(rng)
    p1, p2 = _atom(rng), _atom(rng)
    key = rng.choice(["l_returnflag", "l_linestatus"])
    dcol = rng.choice(_NUM_COLS)
    sql = (
        f"SELECT {key} AS k, "
        f"CAST(COUNT(*) FILTER (WHERE {p1}) AS BIGINT) AS fc, "
        f"CAST(COALESCE(SUM(CAST(l_quantity AS BIGINT)) "
        f"FILTER (WHERE {p2}), 0) AS BIGINT) AS fsum, "
        f"CAST(COUNT(DISTINCT {dcol}) AS BIGINT) AS nd1, "
        f"CAST(COUNT(DISTINCT l_linenumber) FILTER (WHERE {p1}) "
        f"AS BIGINT) AS nd2, "
        f"CAST(MAX(l_orderkey) FILTER (WHERE {p2}) AS BIGINT) AS fmax "
        f"FROM lineitem WHERE {where} GROUP BY {key}")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_scalar_subquery_agrees(seed, spark, duck):
    """Fuzzed CORRELATED SCALAR subqueries in the projection (the
    membership class covers EXISTS/IN): COUNT / SUM / MAX over a
    fuzz-predicated correlated slice. The sharp edge is the empty
    correlated group — COUNT must surface 0 (the classic
    decorrelation-to-outer-join bug turns it into NULL) while SUM and
    MAX must surface NULL; both engines' rewrites have to agree on
    every orderkey including those with no matching lineitem rows."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem", "orders"))
    rng = random.Random(61000 + seed)
    inner = _predicate(rng)
    form = rng.randrange(3)
    if form == 0:
        sub = (f"(SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem "
               f"WHERE l_orderkey = o_orderkey AND ({inner}))")
    elif form == 1:
        sub = (f"(SELECT CAST(COALESCE(SUM(CAST(l_quantity AS BIGINT)), 0)"
               f" AS BIGINT) FROM lineitem "
               f"WHERE l_orderkey = o_orderkey AND ({inner}))")
    else:
        sub = (f"(SELECT CAST(MAX(l_linenumber) AS BIGINT) FROM lineitem "
               f"WHERE l_orderkey = o_orderkey AND ({inner}))")
    sql = (f"SELECT o_orderkey, o_orderstatus, {sub} AS sv "
           f"FROM orders WHERE o_orderkey < 1000")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_like_patterns_agree(seed, spark, duck):
    """Fuzzed LIKE / NOT LIKE / ILIKE / NOT ILIKE with % and _
    wildcards over a concatenated haystack — pattern-match semantics
    both engines must share character-for-character (ILIKE's case
    folding included). Counted via FILTER so every group reports its
    match count next to its total."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(65000 + seed)
    where = _predicate(rng)
    hay = ("l_returnflag || '-' || l_linestatus || '-' || "
           "CAST(l_linenumber AS STRING)")
    pats = ["A-%", "%-O-%", "_-F-%", "%1", "R-_-2", "N%", "%-%-%",
            "_-_-_"]
    pat = rng.choice(pats)
    op = rng.choice(["LIKE", "NOT LIKE", "ILIKE", "NOT ILIKE"])
    if "ILIKE" in op and rng.random() < 0.5:
        pat = pat.lower()
    sql = (
        f"SELECT l_returnflag, l_linestatus, "
        f"CAST(COUNT(*) FILTER (WHERE ({hay}) {op} '{pat}') AS BIGINT)"
        f" AS m, "
        f"CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM lineitem WHERE {where} GROUP BY l_returnflag, l_linestatus")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_mod_sign_agrees(seed, spark, duck):
    """Fuzzed mod / % / sign over NEGATIVE operands (column
    differences and negated columns): both engines use truncated
    division, so the result's sign follows the dividend — the
    convention every hash-bucketing and cyclic-assignment operator in
    the registry relies on."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(69000 + seed)
    where = _predicate(rng)
    a, b = rng.choice(_NUM_COLS), rng.choice(_NUM_COLS)
    k = rng.randrange(2, 9)
    e = rng.choice([
        f"mod({a} - {b}, {k})",
        f"sign({a} - {b})",
        f"abs({a} - {b}) % {k}",
        f"mod(-{a}, {k})",
    ])
    sql = (f"SELECT l_returnflag, CAST({e} AS BIGINT) AS x, "
           f"CAST(COUNT(*) AS BIGINT) AS n "
           f"FROM lineitem WHERE {where} GROUP BY 1, 2")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_document_string_fns_agree(seed, spark, duck):
    """Fuzzed string functions over REAL variable-length text (the
    documents corpus) rather than the 1-char flag columns: length /
    replace / instr / contains / trim+substr / left+right chains.
    Multibyte inputs live in the unicode sweep; this class pins the
    function surface on data where offsets, needle positions, and
    empty-result edges genuinely vary per row."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("documents",))
    rng = random.Random(73000 + seed)
    k = rng.randrange(1, 30)
    e = rng.choice([
        "CAST(length(text) AS BIGINT)",
        f"CAST(length(replace(text, "
        f"'{rng.choice(['a', 'table', 'query', ' '])}', '')) AS BIGINT)",
        f"CAST(instr(text, "
        f"'{rng.choice(['spark', 'value', 'zz', 'row '])}') AS BIGINT)",
        f"CAST(CASE WHEN contains(text, "
        f"'{rng.choice(['merge', 'scan', 'qqq'])}') THEN 1 ELSE 0 END "
        f"AS BIGINT)",
        f"CAST(length(trim(substr(text, {k}, {rng.randrange(1, 40)}))) "
        f"AS BIGINT)",
        f"CAST(length(left(text, {k})) + "
        f"length(right(text, {rng.randrange(1, 20)})) AS BIGINT)",
    ])
    pred = rng.choice([
        f"n_chars > {rng.randrange(50, 400)}",
        f"lang = '{rng.choice(['en', 'de', 'fr'])}'",
        f"source < 'src{rng.randrange(1, 9)}'",
    ])
    sql = (f"SELECT lang, source, doc_id, {e} AS x "
           f"FROM documents WHERE {pred}")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_in_subquery_nulls_agree(seed, spark, duck):
    """Fuzzed IN / NOT IN where the inner projection INJECTS NULLs via
    nullif — the three-valued-logic edge the plain membership class
    deliberately avoids. With any NULL in the inner set, NOT IN must
    return UNKNOWN (no rows) for every non-matching outer key on BOTH
    engines; IN must stay unaffected for matching keys."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem", "orders"))
    rng = random.Random(77000 + seed)
    x = rng.randrange(1, 3000)
    inner_col = rng.choice([f"nullif(l_orderkey, {x})", "l_orderkey"])
    inner_pred = f"l_quantity <= {rng.randrange(1, 51)}"
    op = rng.choice(["IN", "NOT IN"])
    sql = (f"SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n "
           f"FROM orders WHERE o_orderkey {op} "
           f"(SELECT {inner_col} FROM lineitem WHERE {inner_pred}) "
           f"GROUP BY o_orderstatus")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_navigation_fns_agree(seed, spark, duck):
    """Fuzzed navigation window functions: lead / lag with explicit
    offsets and defaults (frameless — Spark rejects frames on them),
    and nth_value / first_value over an explicit positional ROWS
    frame. IGNORE NULLS is untestable as shared text (DuckDB puts it
    inside the call parens, Spark after them) — the registry's
    operators use the DataFrame API for that. Ties on the sort tuple
    are identical in every projected column, so the output multiset
    is permutation-invariant."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(89000 + seed)
    where = _predicate(rng)
    key = rng.choice(["l_returnflag", "l_linestatus"])
    off = rng.randrange(1, 4)
    n = rng.randrange(1, 5)
    fn = rng.randrange(4)
    frame = ""
    if fn == 0:
        e = f"lead(l_orderkey, {off}, {rng.randrange(0, 100)}) OVER w"
    elif fn == 1:
        e = f"lag(l_orderkey, {off}, {rng.randrange(0, 100)}) OVER w"
    elif fn == 2:
        e = f"nth_value(l_orderkey, {n}) OVER w"
        frame = " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    else:
        e = f"first_value(l_orderkey) OVER w"
        frame = " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    sql = (
        f"SELECT l_orderkey, l_linenumber, l_quantity, "
        f"CAST({e} AS BIGINT) AS v "
        f"FROM lineitem WHERE {where} "
        f"WINDOW w AS (PARTITION BY {key} "
        f"ORDER BY l_orderkey, l_linenumber, l_quantity{frame})")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_cte_reuse_agrees(seed, spark, duck):
    """Fuzzed CTE referenced TWICE (once aggregated, once row-level,
    rejoined): Spark re-derives the unpersisted subtree per reference
    while DuckDB may materialize it — the results must be identical
    either way. This is the engine-behavior twin of the repo's
    one-explode / checkpoint rules: correctness never depends on
    whether a common subexpression is shared."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(85000 + seed)
    where = _predicate(rng)
    agg_key = rng.choice(["l_returnflag", "l_linestatus"])
    sql = (
        f"WITH base AS (SELECT {agg_key} AS k, l_orderkey, "
        f"CAST(l_quantity AS BIGINT) AS q FROM lineitem WHERE {where}), "
        f"tot AS (SELECT k, CAST(SUM(q) AS BIGINT) AS sq, "
        f"CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY k) "
        f"SELECT b.k, b.l_orderkey, b.q, t.sq, t.n "
        f"FROM base b JOIN tot t ON b.k = t.k WHERE b.q * t.n >= t.sq")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_null_safe_comparison_agrees(seed, spark, duck):
    """Fuzzed IS DISTINCT FROM / IS NOT DISTINCT FROM with
    nullif-injected NULLs on either or both sides (including a bare
    NULL literal) — the null-safe equality both engines must evaluate
    to TRUE/FALSE, never UNKNOWN, in exactly the same cells of the
    3x3 (value, other value, NULL) matrix."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(93000 + seed)
    where = _predicate(rng)
    x, y = rng.randrange(1, 8), rng.randrange(1, 8)
    op = rng.choice(["IS DISTINCT FROM", "IS NOT DISTINCT FROM"])
    lhs = f"nullif(l_linenumber, {x})"
    rhs = rng.choice([f"nullif(l_suppkey % 7, {y})", "NULL", str(y)])
    sql = (f"SELECT l_returnflag, "
           f"CAST(COUNT(*) FILTER (WHERE {lhs} {op} {rhs}) AS BIGINT)"
           f" AS m, "
           f"CAST(COUNT(*) AS BIGINT) AS n "
           f"FROM lineitem WHERE {where} GROUP BY l_returnflag")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_setop_type_coercion_agrees(seed, spark, duck):
    """Fuzzed set operations between branches of DIFFERENT numeric
    types (INTEGER vs BIGINT vs DOUBLE lanes of the same logical
    value): both engines must widen to a common type BEFORE comparing
    rows, so INTERSECT/EXCEPT match across the type boundary and the
    result is cast back to one comparable lane."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(97000 + seed)
    op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
    a = (f"SELECT CAST(l_linenumber AS INTEGER) AS v FROM lineitem "
         f"WHERE l_quantity >= {rng.randrange(1, 40)}")
    wide = rng.choice(["BIGINT", "DOUBLE"])
    b = (f"SELECT CAST(l_linenumber AS {wide}) AS v FROM lineitem "
         f"WHERE l_quantity < {rng.randrange(10, 51)}")
    sql = (f"SELECT CAST(v AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT)"
           f" AS n FROM ({a} {op} {b}) GROUP BY v")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_setop_agrees(seed, spark, duck):
    """Fuzzed set operations: UNION / INTERSECT / EXCEPT (set and ALL
    bag semantics) between two fuzz-predicated projections of the same
    relation — same SQL text to both engines. The bag variants are the
    sharp edge: duplicate multiplicity arithmetic (m - n, min(m, n))
    diverges immediately if either engine's operator isn't truly
    multiset-correct."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(17000 + seed)
    op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
                     "EXCEPT", "EXCEPT ALL"])
    cols = "l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS q"
    a, b = _predicate(rng), _predicate(rng)
    sql = (f"SELECT {cols} FROM lineitem WHERE {a} "
           f"{op} "
           f"SELECT {cols} FROM lineitem WHERE {b}")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_subquery_agrees(seed, spark, duck):
    """Fuzzed membership subqueries: EXISTS / NOT EXISTS (correlated on
    the natural key) and IN / NOT IN (uncorrelated) with fuzzed inner
    predicates — same SQL text to both engines. The fuzzed columns are
    all non-null, so NOT IN's three-valued-logic trap cannot fire
    spuriously; what IS exercised is each engine's decorrelation
    (semi/anti join rewrite) against the other's."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem", "orders"))
    rng = random.Random(21000 + seed)
    inner = _predicate(rng)
    form = rng.randrange(4)
    if form == 0:
        where = (f"EXISTS (SELECT 1 FROM lineitem WHERE "
                 f"l_orderkey = o_orderkey AND ({inner}))")
    elif form == 1:
        where = (f"NOT EXISTS (SELECT 1 FROM lineitem WHERE "
                 f"l_orderkey = o_orderkey AND ({inner}))")
    elif form == 2:
        where = (f"o_orderkey IN (SELECT l_orderkey FROM lineitem "
                 f"WHERE {inner})")
    else:
        where = (f"o_orderkey NOT IN (SELECT l_orderkey FROM lineitem "
                 f"WHERE {inner})")
    sql = (f"SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n "
           f"FROM orders WHERE {where} GROUP BY o_orderstatus")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_outer_join_agrees(seed, spark, duck):
    """Fuzzed outer joins: LEFT / FULL orders-lineitem joins where the
    fuzzed predicate is pushed into the JOIN CONDITION (not WHERE), so
    null-extension genuinely varies per seed — the classic
    on-clause-vs-where-clause outer-join semantics both engines must
    agree on. Null-extended measure columns flow through an integer
    aggregate with explicit COALESCE."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem", "orders"))
    rng = random.Random(25000 + seed)
    jt = rng.choice(["LEFT", "FULL"])
    on_extra = _predicate(rng)
    sql = (
        f"SELECT o_orderstatus, "
        f"CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(COUNT(l_orderkey) AS BIGINT) AS n_matched, "
        f"CAST(COALESCE(SUM(CAST(l_quantity AS BIGINT)), 0) AS BIGINT)"
        f" AS sq "
        f"FROM orders {jt} JOIN lineitem "
        f"ON o_orderkey = l_orderkey AND ({on_extra}) "
        f"GROUP BY o_orderstatus"
    )
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_greatest_least_agrees(seed, spark, duck):
    """Fuzzed GREATEST/LEAST with nullif-injected NULL arguments and
    mixed integer/BIGINT lanes (prototyped: both engines follow the
    Postgres rule — NULL arguments are IGNORED, the result is NULL
    only when every argument is NULL — and coerce mixed numeric
    arguments to a common type before comparing; string GREATEST
    compares binary-collated in both). The all-NULL lane is forced in
    every seed via a doubled nullif(col, col)."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(101000 + seed)
    where = _predicate(rng)
    fn = rng.choice(["GREATEST", "LEAST"])
    x = rng.randrange(1, 8)
    lit = rng.randrange(0, 6)
    args = (f"NULLIF(l_linenumber, {x}), "
            f"CAST(l_quantity AS BIGINT), {lit}")
    sql = (
        f"SELECT l_returnflag, "
        f"CAST({fn}({args}) AS BIGINT) AS g, "
        f"CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(COUNT(*) FILTER (WHERE {fn}(NULLIF(l_linenumber, "
        f"l_linenumber), NULLIF(l_suppkey, l_suppkey)) IS NULL) "
        f"AS BIGINT) AS all_null "
        f"FROM lineitem WHERE {where} GROUP BY 1, 2")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_exists_nonequi_self_agrees(seed, spark, duck):
    """Fuzzed NON-EQUI correlated EXISTS/NOT EXISTS on a self-join:
    the correlation predicate is an inequality over a second column
    (is there a later line / a larger quantity within my order?), so
    the decorrelation each engine picks is a non-equi semi/anti join
    — a different rewrite shape from test_fuzzed_subquery_agrees'
    natural-key correlation."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(105000 + seed)
    where = _predicate(rng)
    form = rng.choice(["EXISTS", "NOT EXISTS"])
    comp_col = rng.choice(["l_linenumber", "l_quantity", "l_extendedprice"])
    op = rng.choice([">", "<", ">="])
    sql = (
        f"SELECT a.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM lineitem a WHERE ({where.replace('l_', 'a.l_')}) AND "
        f"{form} (SELECT 1 FROM lineitem b WHERE "
        f"b.l_orderkey = a.l_orderkey AND "
        f"b.{comp_col} {op} a.{comp_col}) "
        f"GROUP BY a.l_returnflag")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_between_3vl_agrees(seed, spark, duck):
    """Fuzzed BETWEEN / NOT BETWEEN with nullif-injected NULLs in the
    operand or a bound, plus inverted (empty) bound pairs: BETWEEN
    desugars to two comparisons under three-valued logic, so a NULL
    anywhere makes the predicate UNKNOWN (row dropped) in BOTH the
    positive and the NOT form — the same 3VL trap as NOT IN, on a
    different syntax surface."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(109000 + seed)
    where = _predicate(rng)
    neg = rng.choice(["", "NOT "])
    lo, hi = sorted((rng.randrange(1, 30), rng.randrange(10, 51)))
    if rng.random() < 0.25:
        lo, hi = hi, lo  # inverted bounds: empty range, still 3VL
    operand, lob = "l_quantity", str(lo)
    which = rng.randrange(3)
    if which == 0:
        operand = f"NULLIF(l_quantity, {rng.randrange(1, 51)})"
    elif which == 1:
        lob = f"NULLIF(l_linenumber, {rng.randrange(1, 8)})"
    sql = (
        f"SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM lineitem WHERE ({where}) AND "
        f"{operand} {neg}BETWEEN {lob} AND {hi} "
        f"GROUP BY l_returnflag")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_floor_ceil_round_agrees(seed, spark, duck):
    """Fuzzed FLOOR/CEIL/CEILING/ROUND-to-integer over shifted
    discount/quantity lanes crossing zero. Shared-text caveats found
    while prototyping, both canonicalized with one CAST: Spark's
    FLOOR/CEIL on DOUBLE returns BIGINT while DuckDB returns DOUBLE
    (including a ``-0.0`` lane), so the shared text casts to BIGINT;
    numeric TRUNC is untestable as shared text (Spark's trunc is
    date-only). Argless ROUND on exactly-representable halves rounds
    away from zero in both engines (prototyped on ±0.5/±1.5/2.5)."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(113000 + seed)
    where = _predicate(rng)
    fn = rng.choice(["FLOOR", "CEIL", "CEILING", "ROUND"])
    k = rng.choice([10, 100])
    shift = rng.randrange(0, 60)
    lane = rng.choice([f"l_discount * {k} - {shift}",
                       f"l_quantity - {shift}",
                       f"(0.5e0 - l_discount) * {k}"])
    sql = (
        f"SELECT CAST({fn}({lane}) AS BIGINT) AS v, "
        f"CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM lineitem WHERE {where} GROUP BY 1")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_minby_maxby_agrees(seed, spark, duck):
    """Fuzzed MIN_BY / MAX_BY (argmin/argmax aggregates, same spelling
    in both engines) where the ordering expression is made UNIQUE per
    group by folding in the primary key — ties would be
    engine-arbitrary, unique keys make the selected row
    deterministic; the value expression then proves the whole ROW
    followed the arg, not just the extremum."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(117000 + seed)
    where = _predicate(rng)
    fn = rng.choice(["MIN_BY", "MAX_BY"])
    key = rng.choice(["l_returnflag", "l_linestatus"])
    # unique per (orderkey, linenumber): pk folded into the arg
    arg = (f"CAST(l_quantity AS BIGINT) * 100000000 + "
           f"l_orderkey * 10 + l_linenumber")
    sql = (
        f"SELECT {key}, "
        f"CAST({fn}(l_orderkey, {arg}) AS BIGINT) AS picked, "
        f"CAST({fn}(l_linenumber, {arg}) AS BIGINT) AS picked_ln, "
        f"CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM lineitem WHERE {where} GROUP BY {key}")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_case_chain_agrees(seed, spark, duck):
    """Searched-CASE chains (random branch predicates, optional ELSE,
    so a missing ELSE exercises the implicit NULL bucket) used both as
    a grouping key and inside integer-exact aggregates — same SQL text
    to both engines. CASE evaluation order is ANSI-fixed, so the
    bucket assignment is deterministic."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(20000 + seed)
    branches = []
    for _ in range(rng.randrange(2, 5)):
        col = rng.choice(["l_orderkey", "l_suppkey", "l_linenumber"])
        branches.append(
            f"WHEN {col} {rng.choice(['<', '<=', '>', '>=', '='])} "
            f"{rng.randrange(0, 3000)} THEN {rng.randrange(0, 10)}")
    case = ("CASE " + " ".join(branches)
            + (f" ELSE {rng.randrange(0, 10)} END"
               if rng.random() < 0.7 else " END"))
    sql = (f"SELECT CAST({case} AS BIGINT) AS bucket, "
           f"CAST(COUNT(*) AS BIGINT) AS n, "
           f"CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq "
           f"FROM lineitem GROUP BY 1")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_extract_interval_agrees(seed, spark, duck):
    """EXTRACT grouping keys under timestamp + INTERVAL arithmetic in
    the predicate — same SQL text to both engines. Field pool is
    YEAR/QUARTER/MONTH/DAY/HOUR only: EXTRACT(DOW) is a shared-text
    IMPOSSIBILITY found while prototyping this class (the two engines
    number weekdays differently), same class as r8's numeric TRUNC."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(21000 + seed)
    field = rng.choice(["YEAR", "MONTH", "DAY", "QUARTER", "HOUR"])
    n = rng.randrange(1, 40)
    unit = rng.choice(["DAY", "HOUR"])
    sql = (f"SELECT CAST(EXTRACT({field} FROM l_shipdate) AS BIGINT) AS f, "
           f"CAST(COUNT(*) AS BIGINT) AS n FROM lineitem "
           f"WHERE l_shipdate + INTERVAL {n} {unit} "
           f"< TIMESTAMP '1998-06-01' GROUP BY 1")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_order_limit_offset_agrees(seed, spark, duck):
    """Global ORDER BY ... LIMIT/OFFSET with a unique total-order
    tiebreak — the one class compared as an ORDERED LIST, not a
    multiset, so it pins both engines' sort direction, null placement,
    AND offset slicing byte-for-byte. (No VARCHAR casts: Spark's CAST
    AS VARCHAR demands a length — found while prototyping.)"""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(22000 + seed)
    col = rng.choice(["l_quantity", "l_suppkey", "l_shipdate"])
    d = rng.choice(["ASC", "DESC"])
    k = rng.randrange(5, 40)
    off = rng.randrange(0, 20)
    sql = (f"SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem "
           f"ORDER BY {col} {d} NULLS LAST, l_orderkey, l_linenumber, "
           f"l_partkey LIMIT {k} OFFSET {off}")
    got = [tuple(str(v) for v in r) for r in spark.sql(sql).collect()]
    want = [tuple(str(v) for v in r) for r in duck.sql(sql).fetchall()]
    assert got == want, f"ordered disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_coalesce_nullif_agrees(seed, spark, duck):
    """Random COALESCE(NULLIF(...), ...) trees over integer columns as
    grouping keys — NULLIF injects data-dependent NULLs so COALESCE's
    first-non-null walk is exercised on real null lanes, not just
    literals. Same SQL text to both engines."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(23000 + seed)

    def tree(depth=0):
        if depth >= 2 or rng.random() < 0.4:
            col = rng.choice(["l_orderkey", "l_suppkey", "l_linenumber"])
            if rng.random() < 0.5:
                return f"NULLIF({col}, {rng.randrange(0, 50)})"
            return col
        return f"COALESCE({tree(depth + 1)}, {tree(depth + 1)})"

    sql = (f"SELECT CAST({tree()} AS BIGINT) AS v, "
           f"CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_bitwise_ops_agree(seed, spark, duck):
    """Random bitwise &, |, <<, >> chains over non-negative integer
    keys — same SQL text to both engines. `^` is a documented
    shared-text impossibility: Spark reads it as XOR, DuckDB as
    POWER, so it never appears here (prototyped round 10); shifts are
    kept in [0, 8] so no lane approaches the sign bit."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(24000 + seed)

    def term():
        col = rng.choice(["l_orderkey", "l_suppkey", "l_linenumber"])
        k = rng.randrange(0, 256)
        op = rng.choice(["&", "|"])
        e = f"({col} {op} {k})"
        if rng.random() < 0.5:
            e = f"({e} {rng.choice(['<<', '>>'])} {rng.randrange(0, 9)})"
        return e

    sql = (f"SELECT CAST({term()} AS BIGINT) AS a, "
           f"CAST({term()} AS BIGINT) AS b, "
           f"CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_pad_repeat_reverse_agree(seed, spark, duck):
    """LPAD/RPAD/REPEAT/REVERSE composition over the flag/status
    strings — identical names and semantics in both engines (padding
    truncates to the target length, repeat of 0 yields '', reverse is
    codepoint-wise). Same SQL text to both engines."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(25000 + seed)
    col = rng.choice(["l_returnflag", "l_linestatus"])
    inner = f"REPEAT({col}, {rng.randrange(0, 4)})"
    if rng.random() < 0.5:
        inner = f"REVERSE({inner} || '{rng.choice(['q', 'zz'])}')"
    fn = rng.choice(["LPAD", "RPAD"])
    expr = f"{fn}({inner}, {rng.randrange(0, 9)}, '{rng.choice(['*', 'xy'])}')"
    sql = (f"SELECT {expr} AS s, CAST(COUNT(*) AS BIGINT) AS n "
           f"FROM lineitem GROUP BY 1")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_try_cast_agrees(seed, spark, duck):
    """TRY_CAST of string expressions to BIGINT — NULL-on-failure in
    both engines for garbage and for empty strings. Decimal-looking
    strings are a documented shared-text impossibility (prototyped
    round 10: DuckDB TRY_CAST('3.5' AS BIGINT) rounds to 4, Spark
    yields NULL), so the generator only emits integral or
    non-numeric strings."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(26000 + seed)
    base = rng.choice([
        "CAST(l_suppkey AS STRING)",
        "l_returnflag",
        "CAST(l_orderkey AS STRING) || l_linestatus",
        "'' || CAST(l_linenumber AS STRING)",
        "TRIM('  ' || CAST(l_partkey AS STRING))",
    ])
    sql = (f"SELECT CAST(COUNT(*) AS BIGINT) AS n, "
           f"CAST(SUM(COALESCE(TRY_CAST({base} AS BIGINT), -1)) AS BIGINT)"
           f" AS s FROM lineitem")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzzed_recursive_cte_agrees(seed, spark, duck):
    """WITH RECURSIVE as SHARED TEXT (round 10: Spark 4 executes
    recursive CTEs natively) — the binary-doubling integer generator
    at a random power-of-two cap, aggregated and joined back against
    lineitem keys, runs verbatim on both engines. UNION ALL form only
    (fixpoint UNION is a documented Spark limitation,
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE)."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(27000 + seed)
    cap = 2 ** rng.randrange(3, 8)
    mod = rng.randrange(2, 7)
    sql = (
        f"WITH RECURSIVE g(i, p) AS ("
        f" SELECT 0, 1 UNION ALL"
        f" SELECT i + b * p, p * 2"
        f" FROM g, (SELECT 0 AS b UNION ALL SELECT 1) t WHERE p < {cap})"
        f" SELECT CAST(g.i % {mod} AS BIGINT) AS r,"
        f" CAST(COUNT(*) AS BIGINT) AS n,"
        f" CAST(SUM(l.l_linenumber) AS BIGINT) AS s"
        f" FROM g JOIN lineitem l ON g.i = l.l_suppkey"
        f" WHERE g.p = {cap} GROUP BY 1")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzzed_string_locate_slice_agrees(seed, spark, duck):
    """POSITION(x IN y) / SPLIT_PART / TRANSLATE / LEFT / RIGHT
    composition over flag/status strings — identical names and
    semantics in both engines (POSITION is 1-based with 0 for
    absent; SPLIT_PART past the last field yields ''; padding
    semantics already covered by the pad class). NEGATIVE lengths
    are a documented shared-text impossibility (prototyped round 10:
    Spark LEFT(s, -2) = '' while DuckDB reads it as all-but-last-2),
    so the generator emits only non-negative lengths."""
    from sql_database_engine_spark.catalog import register_views
    register_views(spark, SF_ORACLE, ("lineitem",))
    rng = random.Random(28000 + seed)
    col = rng.choice(["l_returnflag", "l_linestatus"])
    base = f"({col} || ',' || {col} || 'q')"
    expr = rng.choice([
        f"CAST(POSITION('{rng.choice(['A', 'N', 'q', ','])}' IN {base})"
        f" AS BIGINT)",
        f"SPLIT_PART({base}, ',', {rng.randrange(1, 5)})",
        f"TRANSLATE({base}, 'ANq', '{rng.choice(['xyz', '__.'])}')",
        f"LEFT({base}, {rng.randrange(0, 6)})",
        f"RIGHT({base}, {rng.randrange(0, 6)})",
    ])
    sql = (f"SELECT {expr} AS v, CAST(COUNT(*) AS BIGINT) AS n "
           f"FROM lineitem GROUP BY 1")
    got = sorted(tuple(str(v) for v in r) for r in spark.sql(sql).collect())
    want = sorted(tuple(str(v) for v in r) for r in duck.sql(sql).fetchall())
    assert got == want, f"disagreement for: {sql}"
