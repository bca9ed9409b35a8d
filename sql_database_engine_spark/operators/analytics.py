"""Second-wave analytics operators: pivot/unpivot, correlated
aggregates, argmax, ordered string aggregation, exact percentiles,
RANGE window frames, FILTER-ed aggregates, lateral explode, and the
TPC-H classic query shapes (Q3/Q4/Q10/Q15 adapted to the testdata
columns).

Also exercises the SQL front door: one query is authored as
``spark.sql`` over the registered catalog views — Catalyst produces
the same plan either way, and the engine supports both entry points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..catalog import Catalog, register_views
from ..functions.exact import money_sum, MONEY_SUM_SQL
from . import query

REV_SQL = "l_extendedprice * (1 - l_discount)"


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey, {MONEY_SUM_SQL(REV_SQL)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter → 3-way join → grouped revenue →
    global top-10. Both fact joins shuffle on their keys; the top-10
    is a TakeOrdered, not a full sort."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(cat.orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
        .join(cat.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(_rev()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "q4_late_shipment_orders",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated date predicate →
    left-semi join, then priority counts. (The testdata lineitem has
    no commitdate; 'late' is ship > order + 60 days.)"""
    cat = Catalog(spark, sf_dir)
    o = cat.orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    li = cat.lineitem.select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >
           F.date_add(F.col("o_orderdate").cast("date"), 60).cast("timestamp")),
        "left_semi")
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"))


@query(
    "q10_returned_revenue",
    oracle=f"""
    SELECT c_custkey, c_name, n_name, {MONEY_SUM_SQL(REV_SQL)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost revenue from returned items, top-20
    customers. Nation broadcast; fact joins shuffle."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem.filter(F.col("l_returnflag") == "R")
        .join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(cat.broadcast("nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money_sum(_rev()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q15_top_suppliers",
    oracle=f"""
    WITH srev AS (
        SELECT l_suppkey, {MONEY_SUM_SQL(REV_SQL)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM srev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM srev)
    """,
)
def q15_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier, return the
    max (all of them on ties — the scalar-subquery formulation, not
    LIMIT 1). The one-row max aggregate broadcasts."""
    cat = Catalog(spark, sf_dir)
    srev = (
        cat.lineitem
        .filter((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
        .groupBy("l_suppkey")
        .agg(money_sum(_rev()).alias("total_revenue"))
    )
    mx = srev.agg(F.max("total_revenue").alias("__mx"))
    return (
        srev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(cat.broadcast("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "correlated_above_brand_avg",
    oracle="""
    WITH b AS (
        SELECT *, CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT))
                       OVER (PARTITION BY p_brand) AS DOUBLE) / 100.0
                  / COUNT(*) OVER (PARTITION BY p_brand) AS brand_avg
        FROM part
    )
    SELECT p_partkey, p_brand, p_retailprice, brand_avg
    FROM b WHERE p_retailprice > brand_avg
    """,
)
def correlated_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate predicate (parts above their brand's mean
    price), decorrelated into a window — one shuffle on brand instead
    of a per-row subquery. Mean uses the exact-cents path so the
    comparison threshold is engine-reproducible."""
    p = Catalog(spark, sf_dir).part
    w = W.partitionBy("p_brand")
    brand_avg = (F.sum(F.round(F.col("p_retailprice") * 100).cast("long")).over(w)
                 .cast("double") / 100.0 / F.count(F.lit(1)).over(w))
    return (
        p.withColumn("brand_avg", brand_avg)
        .filter(F.col("p_retailprice") > F.col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice", "brand_avg")
    )


@query(
    "argmax_customer_per_nation",
    oracle="""
    SELECT n_name, c_custkey AS top_custkey, c_acctbal AS top_acctbal
    FROM (
        SELECT n_name, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY n_name
                                  ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    ) WHERE rn = 1
    """,
)
def argmax_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax via lexicographic struct-max: one aggregate, no window,
    no second pass — max(struct(bal, key)) picks the row with the
    highest balance (key as deterministic tiebreak). At scale this
    beats the row_number window: partial maxes combine map-side."""
    cat = Catalog(spark, sf_dir)
    c = cat.customer.join(cat.broadcast("nation"),
                          F.col("c_nationkey") == F.col("n_nationkey"))
    top = (c.groupBy("n_name")
           .agg(F.max(F.struct("c_acctbal", "c_custkey")).alias("top")))
    return top.select(
        "n_name",
        F.col("top.c_custkey").alias("top_custkey"),
        F.col("top.c_acctbal").alias("top_acctbal"),
    )


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS "O",
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS "F",
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts by status across priority rows. Explicit
    pivot values — at scale never let pivot() run its distinct-scan
    to discover columns."""
    o = Catalog(spark, sf_dir).orders
    return (o.groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["O", "F", "P"])
            .agg(F.count(F.lit(1)))
            .na.fill(0, ["O", "F", "P"]))


@query(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value
    FROM part
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) via the native unpivot operator — wide measures
    to long (metric, value) rows, a map-side-only transform."""
    p = Catalog(spark, sf_dir).part
    return (
        p.select("p_partkey",
                 F.col("p_size").cast("double").alias("size"),
                 F.col("p_retailprice").alias("retailprice"))
        .unpivot("p_partkey", ["size", "retailprice"], "metric", "value")
    )


@query(
    "listagg_nations_per_region",
    oracle="""
    SELECT r_name,
           list_aggregate(list_sort(list(n_name)), 'string_agg', ',')
               AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM region JOIN nation ON r_regionkey = n_regionkey
    GROUP BY r_name
    """,
)
def listagg_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect → sort → join ensures a
    deterministic result (collect_list order is partition-dependent;
    never emit it unsorted)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.region.join(cat.nation, F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@query(
    "percentile_exact_quantity",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_exact_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (same linear interpolation in both
    engines; quantities are integral so interpolated values are exact
    halves — no float drift). At 100 TB swap to approx_percentile and
    accept sketch error; the exact form sorts per group."""
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, day_no,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY day_no
               RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS orders_last_90d
    FROM (
        SELECT o_custkey, o_orderkey,
               date_diff('day', DATE '1992-01-01',
                         CAST(o_orderdate AS DATE)) AS day_no
        FROM orders
    )
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over a numeric day index: orders in the
    trailing 90 days per customer — value-based frames (vs ROWS)
    handle gaps and duplicate days correctly."""
    o = Catalog(spark, sf_dir).orders
    day_no = F.datediff(F.col("o_orderdate").cast("date"),
                        F.lit("1992-01-01").cast("date"))
    w = (W.partitionBy("o_custkey").orderBy("day_no")
         .rangeBetween(-90, W.currentRow))
    return (
        o.select("o_custkey", "o_orderkey", day_no.alias("day_no"))
        .withColumn("orders_last_90d", F.count(F.lit(1)).over(w))
    )


@query(
    "filtered_aggregates",
    oracle=f"""
    SELECT l_linestatus,
           CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS n_returned,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
           {MONEY_SUM_SQL(REV_SQL)} AS revenue_all,
           CAST(CAST(SUM(CAST(ROUND(({REV_SQL}) * 100) AS BIGINT))
                FILTER (WHERE l_quantity >= 25) AS BIGINT) AS DOUBLE) / 100.0
               AS revenue_bulk
    FROM lineitem GROUP BY l_linestatus
    """,
)
def filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-ed aggregates (conditional aggregation in one pass —
    the alternative to N self-joins)."""
    li = Catalog(spark, sf_dir).lineitem
    rev_cents = F.round(_rev() * 100).cast("long")
    return li.groupBy("l_linestatus").agg(
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        (F.sum(rev_cents).cast("double") / 100.0).alias("revenue_all"),
        (F.sum(F.when(F.col("l_quantity") >= 25, rev_cents)).cast("double") / 100.0)
        .alias("revenue_bulk"),
    )


@query(
    "explode_tokens_lateral",
    oracle="""
    SELECT doc_id, u.pos - 1 AS pos, u.tok
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents WHERE doc_id < 10
    ) u(doc_id, tok, pos)
    """,
)
def explode_tokens_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode with ordinality (posexplode ↔ unnest WITH
    ORDINALITY): the row-generating side of the engine."""
    d = Catalog(spark, sf_dir).documents
    return (d.filter(F.col("doc_id") < 10)
            .select("doc_id",
                    F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"))
            .select("doc_id", "pos", "tok"))


@query(
    "sql_api_revenue_by_year",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           {MONEY_SUM_SQL(REV_SQL)} AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
    """,
)
def sql_api_revenue_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: authored as spark.sql over the registered
    catalog views — same Catalyst plan as the DataFrame API."""
    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(f"""
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               COUNT(DISTINCT o_orderkey) AS n_orders,
               CAST(SUM(CAST(ROUND(({REV_SQL}) * 100) AS BIGINT)) AS DOUBLE) / 100.0
                   AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1
    """)


@query(
    "map_column_ops",
    oracle="""
    WITH per_type AS (
        SELECT user_id, COALESCE(event_type, '(unknown)') AS event_type,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    )
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY event_type) AS types_csv,
           CAST(COALESCE(SUM(CASE WHEN cents > 100000 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_big_types,
           string_agg(event_type || '=' || CAST(cents AS VARCHAR), ','
                      ORDER BY event_type) AS by_type_cents_csv
    FROM per_type GROUP BY user_id
    """,
)
def map_column_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build a per-user map of event_type → exact
    value cents, then map_keys / map_filter / transform_values /
    map_entries — all JVM-side map expressions. The map itself is
    flattened to deterministic strings on output (entry order pinned
    by sort_array at build time) so the result is hashable and gets a
    full DuckDB oracle; the intermediate columns exercise the real
    MapType operators.

    Null semantics (null_sweep audit): a map cannot hold a NULL key —
    map_from_entries throws NULL_MAP_KEY — so a missing event_type
    becomes the explicit '(unknown)' bucket on both engines; events
    with a missing value are excluded (the map holds observed value
    totals; a NULL map value also desyncs the two engines' string
    flattening, concat_ws skipping it where || nulls the element)."""
    ev = Catalog(spark, sf_dir).events.filter(F.col("value").isNotNull())
    per_type = (ev.groupBy("user_id",
                           F.coalesce("event_type", F.lit("(unknown)"))
                           .alias("event_type"))
                .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")))
    mapped = (per_type.groupBy("user_id")
              .agg(F.map_from_entries(
                  F.sort_array(F.collect_list(F.struct("event_type", "cents"))))
                  .alias("by_type")))
    # transform_values runs in the executed plan (cents → dollars map);
    # the big-type filter reads the transformed map. Output stays in
    # integer cents so the string form is engine-exact (no double repr).
    with_dollars = mapped.withColumn(
        "by_type_dollars",
        F.transform_values("by_type", lambda k, v: v.cast("double") / 100.0))
    return with_dollars.select(
        "user_id",
        F.concat_ws(",", F.map_keys("by_type")).alias("types_csv"),
        F.size(F.map_filter("by_type_dollars", lambda k, v: v > 1000.0))
        .cast("long").alias("n_big_types"),
        F.concat_ws(",", F.transform(
            F.map_entries("by_type"),
            lambda e: F.concat_ws("=", e["key"], e["value"].cast("string"))))
        .alias("by_type_cents_csv"),
    )


@query(
    "table_sample",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE (('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || ':'
                                  || CAST(l_linenumber AS VARCHAR)), 1, 4))::INTEGER
           % 1000) < 10
    """,
)
def table_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~1% Bernoulli sample as a pure function of the row key: md5 the
    primary key, keep buckets < 10 of 1000. Engine-independent and
    reproducible (same rows on every engine and every run — unlike
    seeded TABLESAMPLE, whose RNG stream is engine-private), no
    shuffle, filter evaluated at the scan. Same pattern as
    training.train_val_test_split_hash."""
    li = Catalog(spark, sf_dir).lineitem
    key = F.concat_ws(":", F.col("l_orderkey").cast("string"),
                      F.col("l_linenumber").cast("string"))
    bucket = F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("int") % 1000
    return (li.where(bucket < 10)
            .select("l_orderkey", "l_linenumber", "l_quantity"))


@query(
    "q7_nation_trade_volume",
    oracle=f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           {MONEY_SUM_SQL(REV_SQL)} AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name < sn.n_name
    GROUP BY cn.n_name, sn.n_name, 3
    """,
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between distinct nation pairs by
    ship year — six joins, two of them the same broadcast dim under
    different roles."""
    cat = Catalog(spark, sf_dir)
    cn = cat.broadcast("nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    sn = cat.broadcast("nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    return (
        cat.lineitem
        .join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(cat.broadcast("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation",
                 F.year("l_shipdate").alias("ship_year"))
        .agg(money_sum(_rev()).alias("volume"))
    )


@query(
    "q18_large_orders",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           {MONEY_SUM_SQL('l_quantity')} AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate
    HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 200 * 100
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (per-order quantity sum
    over a HAVING threshold), top-100. The having predicate compares
    exact integer cents so threshold membership is reproducible."""
    cat = Catalog(spark, sf_dir)
    qty_cents = F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
    return (
        cat.customer
        .join(cat.orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(cat.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate")
        .agg((qty_cents.cast("double") / 100.0).alias("total_qty"),
             qty_cents.alias("__cents"))
        .filter(F.col("__cents") > 200 * 100)
        .drop("__cents")
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "window_distribution_ranks",
    oracle="""
    SELECT p_brand, p_partkey,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM part
    WINDOW w AS (PARTITION BY p_brand
                 ORDER BY p_retailprice NULLS LAST, p_partkey)
    """,
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist: distribution position within brand.
    Both are exact rational divisions of ranks — deterministic.
    Unpriced parts take the top distribution positions (explicit
    NULLS LAST on both engines; Spark's ASC default is NULLS FIRST,
    DuckDB's NULLS LAST — the null_sweep audit class)."""
    p = Catalog(spark, sf_dir).part
    w = W.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").asc_nulls_last(), "p_partkey")
    return p.select(
        "p_brand", "p_partkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "grouping_sets_explicit",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           (GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)) AS gid,
           {MONEY_SUM_SQL(REV_SQL)} AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube) via the SQL
    front door — the DataFrame API has no grouping-sets verb.

    Same phantom-row empty-input fix as ``agg_rollup`` (the
    empty_sweep class), in SQL form: one all-NULL ``__ph = 1`` row
    unions into the source so the ``()`` set materializes its ANSI
    global-aggregate row over an empty relation; aggregates are
    phantom-blind and phantom-only non-() groups (SUM(1-__ph) = 0,
    impossible for real data) are dropped in HAVING. Single scan,
    same Expand+Aggregate plan."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(f"""
        WITH src AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(({REV_SQL}) * 100) AS BIGINT) AS __cents,
                   0 AS __ph
            FROM lineitem
            UNION ALL
            SELECT NULL, NULL, NULL, 1
        )
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
               CAST(SUM(CASE WHEN __ph = 0 THEN __cents END) AS DOUBLE) / 100.0
                   AS revenue
        FROM src
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        HAVING NOT (grouping(l_returnflag) * 2 + grouping(l_linestatus) < 3
                    AND SUM(1 - __ph) = 0)
    """)


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT CAST(100.0 * SUM(CAST(ROUND(CASE WHEN p_type = 'PROMO'
                  THEN {REV_SQL} ELSE 0 END * 100) AS BIGINT)) AS DOUBLE)
           / SUM(CAST(ROUND(({REV_SQL}) * 100) AS BIGINT)) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotional revenue share for one month —
    conditional aggregate over a fact⋈dimension join, single-row
    result. Exact-cents numerator and denominator make the ratio a
    single deterministic double division."""
    cat = Catalog(spark, sf_dir)
    rev_cents = F.round(_rev() * 100).cast("long")
    promo_cents = F.round(
        F.when(F.col("p_type") == "PROMO", _rev()).otherwise(0.0) * 100).cast("long")
    return (
        cat.lineitem
        .filter((F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp")))
        .join(cat.part, F.col("l_partkey") == F.col("p_partkey"))
        .agg((F.lit(100.0) * F.sum(promo_cents).cast("double")
              / F.sum(rev_cents)).alias("promo_revenue_pct"))
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT {MONEY_SUM_SQL(REV_SQL)} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    extracts the common l_partkey=p_partkey equi-condition for the
    hash join and evaluates the disjunction as a residual; the
    per-side conjuncts (quantity / size ranges) are pushed beneath
    the join where possible."""
    cat = Catalog(spark, sf_dir)
    li, p = cat.lineitem, cat.part
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#23") & sz.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#34") & sz.between(1, 35) & q.between(20, 30))
    )
    return (li.join(p, F.col("l_partkey") == F.col("p_partkey"))
            .filter(cond)
            .agg(money_sum(_rev()).alias("revenue")))


@query(
    "agg_variance_exact",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, CAST(ROUND(l_quantity * 100) AS BIGINT) AS q
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(COUNT(*) AS HUGEINT) * CAST(SUM(q * q) AS HUGEINT)
                - CAST(SUM(q) AS HUGEINT) * CAST(SUM(q) AS HUGEINT)
                AS DOUBLE)
           / CAST(CAST(COUNT(*) AS HUGEINT)
                  * (CAST(COUNT(*) AS HUGEINT) - 1) AS DOUBLE)
           / 10000.0 AS var_qty,
           sqrt(CAST(CAST(COUNT(*) AS HUGEINT) * CAST(SUM(q * q) AS HUGEINT)
                - CAST(SUM(q) AS HUGEINT) * CAST(SUM(q) AS HUGEINT)
                AS DOUBLE)
           / CAST(CAST(COUNT(*) AS HUGEINT)
                  * (CAST(COUNT(*) AS HUGEINT) - 1) AS DOUBLE)
           / 10000.0) AS stddev_qty
    FROM c GROUP BY l_returnflag
    """,
)
def agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev with exact integer arithmetic:
    var = (n·Σx² − (Σx)²) / (n·(n−1)) over integer cents, divided
    back at the end. Built-in var_samp accumulates doubles (Welford)
    whose partial-merge order differs between engines; the integer
    formulation is order-independent, hence cluster-deterministic and
    oracle-reproducible.

    The moment products run in 128-bit lanes (DECIMAL(38,0) here,
    HUGEINT in the oracle): the round-10 overflow sweep proved the
    original int64 lanes wrong — n·Σq² with q ≤ 5000 cents exceeds
    2^63 already at ~2M rows per group (10x sf0.1), i.e. below sf1,
    despite the original docstring's bound claim. Both engines
    convert the exact 128-bit integers to double once, then divide."""
    li = Catalog(spark, sf_dir).lineitem
    cents_q = F.round(F.col("l_quantity") * 100).cast("long")
    q = F.col("q")
    n = F.count(F.lit(1))
    dec = "decimal(38,0)"
    # q*q ≤ 25e6 per row is long-safe; the SUM and the n· product are
    # not — accumulate and multiply in 128-bit.
    sq2 = F.sum((q * q).cast(dec))
    sq1 = F.sum(q.cast(dec))
    num = (n.cast(dec) * sq2 - sq1 * sq1).cast("double")
    # try_divide: sample variance is undefined at n = 1 (the n-1
    # denominator) — NULL like DuckDB's x/0, not an ANSI throw (the
    # empty_sweep singleton tier).
    var = (F.try_divide(num,
                        (n.cast(dec) * (n - F.lit(1)).cast(dec))
                        .cast("double")) / 10000.0)
    return li.select("l_returnflag", cents_q.alias("q")).groupBy("l_returnflag").agg(
        n.alias("n"),
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
    )


# RETIRED (round 8, VERDICT r7 item 3): `agg_sketch_percentiles` — the
# registry's last rows-only query — followed the stream-join-retirement
# precedent (SURVEY §8). Its raw KLL estimates are genuinely
# unoracleable (DuckDB's approx_quantile is a t-digest: different
# sketch, different error, and QuantileSummaries merge order is
# partition-dependent — the fixture_shape_sweep's one documented
# divergence), so its only possible driver record was the permanently
# stale r2 `no_oracle` artifact. The capability is untouched:
# `sketch_percentile_drift` below runs the same one-pass
# approx_percentile kernel and hash-verifies its rank-error CONTRACT
# against the exact nearest-rank answer — the driver-checkable form of
# the same 100 TB claim (mergeable partials, fixed memory, no per-group
# sort).


@query(
    "numeric_histogram",
    oracle="""
    SELECT l_returnflag,
           CAST(least(floor((l_extendedprice - 900.0) / 10500.0), 9)
                AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS bucket_min,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS bucket_max
    FROM lineitem GROUP BY 1, 2
    """,
)
def numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (10 fixed buckets over the price domain)
    per group — the profiling/visualization workhorse. Bucket
    assignment is a pure row expression (one subtract, one divide,
    one floor — identical IEEE ops in both engines), so the whole
    histogram is one partial-aggregated shuffle of O(groups x buckets)
    rows regardless of N. Fixed bounds keep it deterministic; a
    data-driven variant computes min/max in a first pass and feeds
    them as literals (two scans, still no sort — cheaper than
    percentile bucketing when equi-width is acceptable)."""
    li = Catalog(spark, sf_dir).lineitem
    bucket = F.least(F.floor((F.col("l_extendedprice") - 900.0) / 10500.0),
                     F.lit(9)).cast("int")
    return (li.groupBy("l_returnflag", bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("l_extendedprice").cast("double").alias("bucket_min"),
                 F.max("l_extendedprice").cast("double").alias("bucket_max")))


@query(
    "corr_value_hour_exact",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS x,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y
        FROM events
    ), s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM c GROUP BY event_type
    )
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
               AS corr_value_hour,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 100.0
               AS cov_value_hour
    FROM s
    """,
)
def corr_value_hour_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation / sample covariance of event value vs
    hour-of-day per event type, with order-independent accumulation.

    Built-in corr()/covar_samp() merge double partials (Welford)
    whose result depends on partition merge order — fine numerically,
    fatal for cross-engine hash comparison. Here every per-row term is
    an exact integer (value in cents, hour in [0, 23]); the five sums
    are exact BIGINTs (per-row x·y ≤ 56021·100·23 ≪ 2^63, and the
    sums stay ≪ 2^63 through sf=1), so no accumulation order exists.
    Only the final n·Σ-combination happens in doubles — cast first,
    because n·Σx² overflows int64 at scale — as a fixed operation
    dag, bit-identical in both engines. One partial-aggregated
    shuffle; the same pattern extends to any exact second-moment
    statistic (regression slopes, cosine between columns).
    """
    ev = Catalog(spark, sf_dir).events
    c = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
        F.hour("ts").cast("long").alias("y"),
    )
    n = F.count(F.lit(1))
    s = c.groupBy("event_type").agg(
        n.alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    cov_num = (nd * F.col("sxy").cast("double")
               - F.col("sx").cast("double") * F.col("sy").cast("double"))
    vx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    vy = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    # try_divide at each stage: with n = 1 both variances and the
    # n(n-1) denominator are zero — correlation/covariance are
    # undefined (NULL on both engines), not an ANSI throw.
    return s.select(
        "event_type", "n",
        F.try_divide(F.try_divide(cov_num, F.sqrt(vx)), F.sqrt(vy))
        .alias("corr_value_hour"),
        (F.try_divide(cov_num, nd * (nd - F.lit(1.0))) / 100.0)
        .alias("cov_value_hour"),
    )


@query(
    "sketch_percentile_drift",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice, l_orderkey,
                                           l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    )
    SELECT l_returnflag,
           MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                    THEN cents END) AS exact_p50_cents,
           MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT)
                    THEN cents END) AS exact_p90_cents,
           CAST(1 AS BIGINT) AS p50_within_1pct,
           CAST(1 AS BIGINT) AS p90_within_1pct
    FROM ranked GROUP BY l_returnflag
    """,
)
def sketch_percentile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KLL-sketch accuracy CONTRACT, oracle-checked — companion
    to the rows-only ``agg_sketch_percentiles``: emit the exact
    nearest-rank p50/p90 (deterministic integer cents, rank
    ceil(q*N) under (price, pk) order) alongside flags asserting the
    one-pass approx_percentile estimate landed within 1% of exact.
    The oracle computes the exact ranks and expects both flags = 1,
    so the driver hash-verifies the sketch's error bound instead of
    skipping the query — the same bounded-contract pattern as
    ``agg_approx_distinct``. approx_percentile(accuracy=10000)
    guarantees rank error <= N/10000; 1% value drift is comfortable
    for this distribution, so the flag is deterministic in practice.

    Scale: the exact side is one exchange + per-group sort (how any
    exact percentile must run); the sketch side is the scalable path
    (mergeable partials, fixed memory). Registering both keeps the
    cheap path honest against the exact one at every SF the driver
    runs.

    Null prices are excluded before ranking on both engines —
    approx_percentile already ignores nulls in both, so the exact
    side must rank observed values only or n drifts; the group join
    is null-safe so a NULL returnflag group survives (a plain
    equi-join drops null keys — the null_sweep audit class).
    """
    li = Catalog(spark, sf_dir).lineitem.filter(
        F.col("l_extendedprice").isNotNull())
    cents_p = F.round(F.col("l_extendedprice") * 100).cast("long")
    wr = W.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber")
    wn = W.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag", cents_p.alias("cents"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.col("l_extendedprice"))
    exact = ranked.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("rn") == F.ceil(0.50 * F.col("n")),
                     F.col("cents"))).alias("exact_p50_cents"),
        F.max(F.when(F.col("rn") == F.ceil(0.90 * F.col("n")),
                     F.col("cents"))).alias("exact_p90_cents"))
    approx = li.groupBy(F.col("l_returnflag").alias("rf2")).agg(
        F.expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)")
        .alias("ap"))
    j = exact.join(approx,
                   F.col("l_returnflag").eqNullSafe(F.col("rf2")))
    def within(est, exact_cents):
        drift = F.abs(F.round(est * 100).cast("long") - exact_cents)
        return (drift.cast("double") <= 0.01 * exact_cents.cast("double")) \
            .cast("long")
    return j.select(
        "l_returnflag", "exact_p50_cents", "exact_p90_cents",
        within(F.col("ap")[0], F.col("exact_p50_cents"))
        .alias("p50_within_1pct"),
        within(F.col("ap")[1], F.col("exact_p90_cents"))
        .alias("p90_within_1pct"),
    )


@query(
    "calendar_dim_generate",
    oracle="""
    WITH bounds AS (
        SELECT min(o_orderdate) AS mn, max(o_orderdate) AS mx FROM orders
    )
    SELECT CAST(d AS DATE) AS cal_date,
           CAST(year(d) AS INT) AS cal_year,
           CAST(quarter(d) AS INT) AS cal_quarter,
           CAST(month(d) AS INT) AS cal_month,
           CAST(weekofyear(d) AS INT) AS iso_week,
           CAST(dayofweek(d) + 1 AS INT) AS dow_sun1,
           CAST(CASE WHEN d = last_day(d) THEN 1 ELSE 0 END AS BIGINT)
               AS is_month_end
    FROM bounds, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS t(d)
    """,
)
def calendar_dim_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension generated from the fact table's own date
    range — the warehouse staple every star schema needs and no
    source system ships: min/max of o_orderdate (one 1-row aggregate)
    seeds a sequence explode into one row per day with the standard
    attributes (year/quarter/month, ISO week, day-of-week, month-end
    flag). Dimension generation is pure compute — zero input rows
    shuffled, output bounded by the date span (~2.5k rows for 7
    years) regardless of fact cardinality, so the dim is trivially
    broadcastable to every join that needs it. Week numbers are ISO
    8601 in both engines; day-of-week is pinned to Sunday=1 (Spark's
    dayofweek; DuckDB dow+1)."""
    o = Catalog(spark, sf_dir).orders
    bounds = o.agg(F.min("o_orderdate").alias("mn"),
                   F.max("o_orderdate").alias("mx"))
    days = (bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY")))
        .alias("cal_ts"))
        .select(F.col("cal_ts").cast("date").alias("cal_date")))
    d = F.col("cal_date")
    return days.select(
        d,
        F.year(d).alias("cal_year"),
        F.quarter(d).alias("cal_quarter"),
        F.month(d).alias("cal_month"),
        F.weekofyear(d).alias("iso_week"),
        F.dayofweek(d).alias("dow_sun1"),
        (d == F.last_day(d)).cast("long").alias("is_month_end"),
    )


@query(
    "basket_brand_pair_lift",
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n_orders AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS t FROM lineitem
    ), brand_n AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n FROM ob
        GROUP BY p_brand
    ), pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
    )
    SELECT brand_a, brand_b, n_pair,
           na.n AS n_a, nb.n AS n_b,
           CAST(n_pair AS DOUBLE) * t / na.n / nb.n AS lift
    FROM pairs
    JOIN brand_n na ON na.p_brand = brand_a
    JOIN brand_n nb ON nb.p_brand = brand_b
    CROSS JOIN n_orders
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT 15
    """,
)
def basket_brand_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: the 15 brand pairs whose
    within-order co-occurrence most exceeds independence
    (lift = P(a,b) / (P(a)·P(b)), computed as the exact integer ratio
    n_pair·n_orders / (n_a·n_b) with the divisions as the only float
    ops).

    Scale shape: the basket table is deduped to DISTINCT
    (order, brand) BEFORE pairing, so the self-join fan-out per order
    is bounded by the brand count in that order's basket (≤7 lines per
    order ⇒ ≤21 pairs), never by raw line count. Both self-join sides
    shuffle on the same l_orderkey partitioning, which AQE plans as
    one exchange reused twice; the brand names and marginals (one row
    holding a 25-entry map) and the order total are single-row
    broadcasts onto the pair aggregate. The part dimension rides in as
    a broadcast hash join (partkey → brand is the only projected
    column). At a 1000× order count nothing in the
    plan grows except the two orderkey-partitioned passes — the pair
    space stays |brands|² bounded.
    """
    from .graph import _basket_sets, _brand_dim

    cat = Catalog(spark, sf_dir)
    # Basket sets in ONE corpus-grain exchange (collect_set partial-
    # aggregates map-side), shared by marginals and pair counts via a
    # lazy checkpoint; pairs come from a per-order k² explode of the
    # int-id array instead of the former corpus self-join (guide §2.4;
    # same derivation as the graph family's _pair_counts). bid order ==
    # brand string order, so sid < did is the same pair set.
    sets = _basket_sets(cat).localCheckpoint(eager=False)
    n_orders = (cat.lineitem.agg(
        F.countDistinct("l_orderkey").alias("t")))
    ex = (sets.select(F.explode("bs").alias("sid"), "bs")
          .select("sid", F.explode("bs").alias("did"))
          .filter(F.col("sid") < F.col("did")))
    cnt = (ex.groupBy("sid", "did")
           .agg(F.count(F.lit(1)).alias("n_pair")))
    # Names and marginals in ONE broadcast row, b: map<bid,
    # struct<p_brand, n>>. Both pair sides look it up, so the plan
    # derives the brand dictionary (a ``part`` scan) once; a dictionary
    # join per side re-derived it at every reference.
    b = F.broadcast(
        sets.select(F.explode("bs").alias("bid"))
        .groupBy("bid").agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(_brand_dim(cat)), "bid")
        .agg(F.map_from_entries(F.collect_list(F.struct(
            "bid", F.struct("p_brand", "n")))).alias("b")))
    return (cnt.crossJoin(b)
            .selectExpr("b[sid].p_brand AS brand_a",
                        "b[did].p_brand AS brand_b", "n_pair",
                        "b[sid].n AS n_a", "b[did].n AS n_b")
            .crossJoin(F.broadcast(n_orders))
            .select("brand_a", "brand_b", "n_pair", "n_a", "n_b",
                    (F.col("n_pair").cast("double") * F.col("t")
                     / F.col("n_a") / F.col("n_b")).alias("lift"))
            .orderBy(F.col("lift").desc(), "brand_a", "brand_b")
            .limit(15))


@query(
    "fuzzy_name_pairs",
    oracle="""
    WITH names AS (
        SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM part GROUP BY p_name
    ), keyed AS (
        SELECT p_name, n_rows,
               unnest(['1:' || string_split(p_name, ' ')[1],
                       '2:' || string_split(p_name, ' ')[-1]]) AS block_key
        FROM names
    ), cand AS (
        SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b,
               a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
        FROM keyed a JOIN keyed b
          ON a.block_key = b.block_key AND a.p_name < b.p_name
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist,
           n_rows_a, n_rows_b
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 2
    ORDER BY dist, name_a, name_b
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching over the part-name dictionary: name pairs
    within Levenshtein distance 2, with how many catalog rows each
    spelling carries.

    The scale design is dictionary-first: names are deduplicated with
    counts BEFORE any pairing, so the quadratic step runs on distinct
    spellings (64 here; ~10⁵–10⁶ in a real catalog), never on the row
    table — the classic entity-resolution decomposition. Candidates
    come from two-key blocking (first token, last token): a single
    edit inside one word leaves the other word intact, so any ≤2-edit
    pair differing in only one token is guaranteed recalled; an edit
    spanning both tokens is outside the declared contract (documented
    recall, the standard blocking trade). Each side explodes to 2
    block keys, the join is an equi-join on the key, and the distinct
    collapses pairs found under both keys. Levenshtein runs only on
    surviving candidates — the expensive O(len²) DP never sees the
    non-candidate pairs.
    """
    cat = Catalog(spark, sf_dir)
    names = cat.part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_rows"))
    toks = F.split(F.col("p_name"), " ")
    keyed = names.select(
        "p_name", "n_rows",
        F.explode(F.array(
            F.concat(F.lit("1:"), toks.getItem(0)),
            F.concat(F.lit("2:"), F.element_at(toks, -1)))).alias("block_key"))
    a = keyed.select(F.col("p_name").alias("name_a"),
                     F.col("n_rows").alias("n_rows_a"), "block_key")
    b = keyed.select(F.col("p_name").alias("name_b"),
                     F.col("n_rows").alias("n_rows_b"), "block_key")
    cand = (a.join(b, (a.block_key == b.block_key)
                   & (F.col("name_a") < F.col("name_b")))
            .select("name_a", "name_b", "n_rows_a", "n_rows_b")
            .distinct())
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (cand.withColumn("dist", dist.cast("int"))
            .filter(F.col("dist") <= 2)
            .select("name_a", "name_b", "dist", "n_rows_a", "n_rows_b")
            .orderBy("dist", "name_a", "name_b"))


@query(
    "pareto_frontier_parts",
    oracle="""
    WITH pts AS (
        SELECT CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
               CAST(p_size AS BIGINT) AS size,
               p_partkey
        FROM part
        WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    ), scanned AS (
        SELECT price_cents, size,
               max(size) OVER (ORDER BY price_cents
                               RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS best_cheaper,
               max(size) OVER (PARTITION BY price_cents) AS best_same_price
        FROM pts
    )
    SELECT CAST(price_cents AS DOUBLE) / 100.0 AS retail_price, size,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM scanned
    WHERE (best_cheaper IS NULL OR size > best_cheaper)
      AND size = best_same_price
    GROUP BY price_cents, size
    ORDER BY price_cents
    """,
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) of the part catalog: the points
    where no cheaper part is at least as large — minimize retail
    price, maximize size. The classic skyline operator, solved as ONE
    ordered window sweep instead of the naive NOT EXISTS self-join:
    sort by price, carry the running max size over strictly cheaper
    rows (RANGE frame excludes price ties), and a point survives iff
    it beats that max and is the largest at its own price.

    Exactness: prices go through cents fixed-point so the sort key
    and group key are integers. Scale: the sweep is a global ordered
    window — but ONLY over the candidate dimension pair projected to
    two integers, and a pre-filter could thin dominated points per
    partition first (local skyline then merge, the standard
    distributed skyline refinement) without changing semantics; the
    window state is a single running max either way.

    Null semantics (null_sweep audit): a skyline point needs BOTH
    coordinates observed — a null price cannot be ordered against
    the sweep and a null size can neither dominate nor be dominated
    — so partially-observed parts are excluded on both engines.
    """
    p = Catalog(spark, sf_dir).part.filter(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
    pts = p.select(
        F.round(F.col("p_retailprice") * 100).cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("size"))
    w_cheaper = (W.orderBy("price_cents")
                 .rangeBetween(W.unboundedPreceding, -1))
    w_same = W.partitionBy("price_cents")
    scanned = pts.select(
        "price_cents", "size",
        F.max("size").over(w_cheaper).alias("best_cheaper"),
        F.max("size").over(w_same).alias("best_same_price"))
    return (scanned
            .filter((F.col("best_cheaper").isNull()
                     | (F.col("size") > F.col("best_cheaper")))
                    & (F.col("size") == F.col("best_same_price")))
            .groupBy("price_cents", "size")
            .agg(F.count(F.lit(1)).alias("n_parts"))
            .select((F.col("price_cents").cast("double") / 100.0)
                    .alias("retail_price"), "size", "n_parts")
            .orderBy("price_cents"))


@query(
    "chi2_event_type_by_segment",
    oracle="""
    WITH joined AS (
        SELECT e.event_type, c.c_mktsegment AS segment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    ), cells AS (
        SELECT event_type, segment, CAST(COUNT(*) AS BIGINT) AS o
        FROM joined GROUP BY event_type, segment
    ), rows_ AS (
        SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells
        GROUP BY event_type
    ), cols_ AS (
        SELECT segment, CAST(SUM(o) AS BIGINT) AS c FROM cells
        GROUP BY segment
    ), tot AS (
        SELECT CAST(SUM(o) AS BIGINT) AS t FROM cells
    ), contrib AS (
        SELECT CAST(ROUND(
                   (o - CAST(r AS DOUBLE) * c / t)
                   * (o - CAST(r AS DOUBLE) * c / t)
                   / (CAST(r AS DOUBLE) * c / t) * 1000000.0)
               AS BIGINT) AS ci
        FROM cells
        JOIN rows_ USING (event_type)
        JOIN cols_ USING (segment)
        CROSS JOIN tot
    )
    SELECT CAST((SELECT COUNT(*) FROM rows_) AS BIGINT) AS n_event_types,
           CAST((SELECT COUNT(*) FROM cols_) AS BIGINT) AS n_segments,
           CAST(((SELECT COUNT(*) FROM rows_) - 1)
                * ((SELECT COUNT(*) FROM cols_) - 1) AS BIGINT) AS dof,
           CAST(CAST(SUM(ci) AS BIGINT) AS DOUBLE) / 1000000.0
               AS chi2_statistic
    FROM contrib
    """,
)
def chi2_event_type_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and the
    acting customer's market segment — the canonical "is behavior
    uniform across segments?" screen. Each cell's (O−E)²/E term is a
    fixed double sequence rounded to 1e-6 fixed point, then the
    statistic is an exact integer sum — order-independent, so the
    distributed aggregation and DuckDB agree bit-for-bit (the same
    policy that makes TVD exact; a naive SUM of double terms would
    drift with partitioning).

    Scale: one fact join (customer dim hash-broadcast), one
    contingency aggregate (≤ |types|·|segments| cells — map-side
    combined), then marginals join back as ≤25-row broadcasts. The
    p-value lookup is deliberately out of scope: it needs the
    incomplete gamma function (libm), so the engine emits the
    statistic and dof and leaves the threshold to the caller.
    """
    cat = Catalog(spark, sf_dir)
    joined = (cat.events.select("user_id", "event_type")
              .join(F.broadcast(cat.customer
                                .select("c_custkey", "c_mktsegment")),
                    F.col("user_id") == F.col("c_custkey"))
              .select("event_type", F.col("c_mktsegment").alias("segment")))
    cells = joined.groupBy("event_type", "segment").agg(
        F.count(F.lit(1)).alias("o"))
    cells = cells.localCheckpoint(eager=False)  # feeds 4 consumers
    rows_ = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_ = cells.groupBy("segment").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("t"))
    e = F.col("r").cast("double") * F.col("c") / F.col("t")
    contrib = (cells.join(F.broadcast(rows_), "event_type")
               .join(F.broadcast(cols_), "segment")
               .crossJoin(F.broadcast(tot))
               .select(F.round((F.col("o") - e) * (F.col("o") - e) / e
                               * 1000000.0).cast("long").alias("ci")))
    nr = rows_.agg(F.count(F.lit(1)).alias("n_event_types"))
    nc = cols_.agg(F.count(F.lit(1)).alias("n_segments"))
    return (contrib.agg(F.sum("ci").alias("s"))
            .crossJoin(F.broadcast(nr)).crossJoin(F.broadcast(nc))
            .select("n_event_types", "n_segments",
                    ((F.col("n_event_types") - 1) * (F.col("n_segments") - 1))
                    .alias("dof"),
                    (F.col("s").cast("double") / 1000000.0)
                    .alias("chi2_statistic")))


@query(
    "revenue_concentration_curve",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rn,
               SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                                ROWS UNBOUNDED PRECEDING) AS cum_cents,
               COUNT(*) OVER () AS n,
               SUM(cents) OVER () AS total
        FROM cust
    )
    SELECT share.p AS revenue_share,
           CAST(min(rn) AS BIGINT) AS n_customers,
           CAST(min(rn) AS DOUBLE)
               / CAST(max(n) AS BIGINT) AS customer_fraction
    FROM ranked
    CROSS JOIN (SELECT unnest([50, 80, 90, 99]) AS p) AS share
    WHERE cum_cents * 100 >= CAST(total AS BIGINT) * share.p
    GROUP BY share.p
    ORDER BY share.p
    """,
)
def revenue_concentration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 read-out): the minimum number
    of top customers whose cumulative revenue reaches 50/80/90/99% of
    the total. One per-customer exact-cents aggregate, one descending
    cumulative window, then each threshold is the min rank where
    cum·100 ≥ total·p — an all-integer predicate (no percentage
    division ever happens, so no float boundary cases).

    Scale: the cumulative window is global-ordered over the CUSTOMER
    aggregate (not orders); the threshold probe is a bounded 4-way
    explode over the ranked stream. At 10⁹ customers the global sort
    is the cost — range-partition the sort and compute per-partition
    offsets (Spark's global Window does exactly this underneath).
    """
    o = Catalog(spark, sf_dir).orders
    cust = (o.groupBy("o_custkey")
            .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .alias("cents")))
    w = W.orderBy(F.col("cents").desc(), "o_custkey")
    ranked = cust.select(
        "cents",
        F.row_number().over(w).alias("rn"),
        F.sum("cents").over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("cum_cents"),
        F.count(F.lit(1)).over(
            W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding,
                                            W.unboundedFollowing)).alias("n"),
        F.sum("cents").over(
            W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding,
                                            W.unboundedFollowing))
        .alias("total"))
    shares = F.explode(F.array(*[F.lit(p) for p in (50, 80, 90, 99)]))
    return (ranked.select("rn", "cum_cents", "n", "total",
                          shares.alias("revenue_share"))
            .filter(F.col("cum_cents") * 100
                    >= F.col("total") * F.col("revenue_share"))
            .groupBy("revenue_share")
            .agg(F.min("rn").alias("n_customers"),
                 (F.min("rn").cast("double") / F.max("n"))
                 .alias("customer_fraction"))
            .orderBy("revenue_share"))


@query(
    "revenue_gini_coefficient",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
        FROM cust
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS sy,
               SUM(CAST(i AS HUGEINT) * CAST(cents AS HUGEINT)) AS siy
        FROM ranked
    )
    SELECT n AS n_customers,
           CAST(CAST(sy AS HUGEINT) AS DOUBLE) / 100.0 AS total_revenue,
           (2.0 * (CAST(siy AS DOUBLE) / CAST(sy AS HUGEINT)) - n - 1)
               / n AS gini
    FROM s
    """,
)
def revenue_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer revenue — the inequality
    summary behind the concentration curve, via the rank formula
    G = (2·Σ i·yᵢ / Σ yᵢ − n − 1) / n over ascending-sorted exact
    cents. Σ i·yᵢ runs in 128-bit lanes (rank × cents products exceed
    2⁶³ well before the customer count does); the closed form is then
    three fixed float ops. Deterministic ties: equal revenues order
    by customer key.

    Scale: same shape as the concentration curve — one customer
    aggregate, one global rank window (range-partitioned sort under
    the hood), one single-row moment reduce.
    """
    o = Catalog(spark, sf_dir).orders
    cust = (o.groupBy("o_custkey")
            .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .alias("cents")))
    w = W.orderBy("cents", "o_custkey")
    ranked = cust.select(
        "cents", F.row_number().over(w).cast("long").alias("i"))
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("i").cast("decimal(19,0)")
              * F.col("cents").cast("decimal(19,0)")).alias("siy"))
    return s.select(
        F.col("n").alias("n_customers"),
        (F.col("sy").cast("decimal(38,0)").cast("double") / 100.0)
        .alias("total_revenue"),
        ((F.lit(2.0) * (F.col("siy").cast("double")
                        / F.col("sy").cast("decimal(38,0)"))
          - F.col("n") - 1) / F.col("n")).alias("gini"))


@query(
    "zscore_event_values",
    oracle="""
    WITH c AS (
        SELECT event_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), s1 AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(cents) AS BIGINT) // COUNT(*) AS m0
        FROM c GROUP BY event_type
    ), s2 AS (
        SELECT c.event_type,
               CAST(SUM(c.cents - s1.m0) AS BIGINT) AS sd,
               CAST(SUM((c.cents - s1.m0) * (c.cents - s1.m0)) AS BIGINT)
                   AS sdd
        FROM c JOIN s1 USING (event_type) GROUP BY c.event_type
    )
    SELECT c.event_id, c.event_type,
           (CAST(c.cents AS DOUBLE)
            - CAST(s1.s AS DOUBLE) / s1.n)
           / sqrt(CAST(s2.sdd AS DOUBLE) / s1.n
                  - (CAST(s2.sd AS DOUBLE) / s1.n)
                    * (CAST(s2.sd AS DOUBLE) / s1.n)) AS z
    FROM c JOIN s1 USING (event_type) JOIN s2 USING (event_type)
    """,
)
def zscore_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization: the z-score of every event's
    value within its event type — the normalization step of a feature
    pipeline, reproduced bit-for-bit.

    Determinism strategy: all MOMENTS are exact integers. Values go
    to cents; pass 1 computes (n, sum, integer-floor mean m0); pass 2
    re-aggregates CENTERED residuals d = cents - m0, whose sums stay
    exact bigints at any group size the raw sum-of-squares could not
    survive (sum(cents^2) overflows int64 near ~1e9 rows/group at
    this value range; sum(d^2) with |d| bounded by the value spread
    does not). Only then does one fixed-order double expression —
    identical on the oracle side, every IEEE op exactly rounded —
    produce mean, variance, sqrt (correctly rounded by IEEE-754) and
    the z itself. Two shuffles on event_type; the per-row pass joins
    the handful of group stats back by broadcast.
    """
    from ..functions.exact import cents as cents_
    ev = Catalog(spark, sf_dir).events
    c = ev.select("event_id", "event_type",
                  cents_(F.col("value")).alias("cents"))
    c = c.localCheckpoint(eager=False)  # feeds both passes + output join
    s1 = (c.groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
          .withColumn("m0", F.expr("s div n")))
    d = F.col("cents") - F.col("m0")
    s2 = (c.join(F.broadcast(s1), "event_type")
          .groupBy("event_type")
          .agg(F.sum(d).alias("sd"), F.sum(d * d).alias("sdd")))
    mean = F.col("s").cast("double") / F.col("n")
    sdn = F.col("sd").cast("double") / F.col("n")
    var = F.col("sdd").cast("double") / F.col("n") - sdn * sdn
    # try_divide: a single-row (or constant) group has zero variance
    # and no defined z — NULL like DuckDB's x/0, not an ANSI throw.
    z = F.try_divide(F.col("cents").cast("double") - mean, F.sqrt(var))
    return (c.join(F.broadcast(s1), "event_type")
            .join(F.broadcast(s2), "event_type")
            .select("event_id", "event_type", z.alias("z")))


@query(
    "conversion_rate_wilson",
    oracle="""
    WITH per_user AS (
        SELECT e.user_id, any_value(c.c_mktsegment) AS seg,
               CAST(MAX(CASE WHEN e.event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS converted
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY e.user_id
    ), agg AS (
        SELECT seg AS c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted
        FROM per_user GROUP BY seg
    )
    SELECT c_mktsegment, n_users, n_converted,
           CAST(n_converted AS DOUBLE) / n_users AS rate,
           ((CAST(n_converted AS DOUBLE) / n_users)
            + 3.8416e0 / (2e0 * n_users)
            - 1.96e0 * sqrt((CAST(n_converted AS DOUBLE) / n_users)
                            * (1e0 - CAST(n_converted AS DOUBLE) / n_users)
                            / n_users
                            + 3.8416e0 / (4e0 * n_users * n_users)))
           / (1e0 + 3.8416e0 / n_users) AS wilson_low,
           ((CAST(n_converted AS DOUBLE) / n_users)
            + 3.8416e0 / (2e0 * n_users)
            + 1.96e0 * sqrt((CAST(n_converted AS DOUBLE) / n_users)
                            * (1e0 - CAST(n_converted AS DOUBLE) / n_users)
                            / n_users
                            + 3.8416e0 / (4e0 * n_users * n_users)))
           / (1e0 + 3.8416e0 / n_users) AS wilson_high
    FROM agg
    """,
)
def conversion_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment user conversion rate with a 95% Wilson score
    interval — the binomial CI that behaves at small n and extreme
    rates, computed entirely in deterministic arithmetic: exact
    integer (n, k) per segment, then one fixed-order double chain
    (z=1.96, z^2=3.8416 as exact literals; sqrt is IEEE-correctly
    rounded) mirrored verbatim in the oracle. Two hash aggregates
    (user-level conversion flag, then segment rollup) and one
    key-partitioned dimension join (customer grows with SF, so no
    broadcast hint — AQE may still choose one when the filtered dim
    fits) — no window, no sort.
    """
    ev = Catalog(spark, sf_dir).events
    cust = Catalog(spark, sf_dir).customer \
        .select("c_custkey", "c_mktsegment")
    per_user = (ev.join(cust, ev.user_id == F.col("c_custkey"))
                .groupBy("user_id")
                .agg(F.first("c_mktsegment").alias("c_mktsegment"),
                     F.max((F.col("event_type") == "purchase").cast("long"))
                     .alias("converted")))
    agg = (per_user.groupBy("c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n_users"),
                F.sum("converted").alias("n_converted")))
    n = F.col("n_users")
    rate = F.col("n_converted").cast("double") / n
    z2 = F.lit(3.8416)
    center = rate + z2 / (F.lit(2.0) * n)
    spread = F.lit(1.96) * F.sqrt(rate * (F.lit(1.0) - rate) / n
                                  + z2 / (F.lit(4.0) * n * n))
    denom = F.lit(1.0) + z2 / n
    return agg.select(
        "c_mktsegment", "n_users", "n_converted", rate.alias("rate"),
        ((center - spread) / denom).alias("wilson_low"),
        ((center + spread) / denom).alias("wilson_high"))


@query(
    "percentile_cont_interpolated",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag, l_quantity,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_quantity, l_orderkey,
                                           l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem WHERE l_quantity IS NOT NULL
    ), pos AS (
        SELECT l_returnflag, l_quantity, rn, n,
               0.5e0 * (n - 1) AS p50, 0.9e0 * (n - 1) AS p90
        FROM ranked
    )
    SELECT l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           MAX(CASE WHEN rn = CAST(floor(p50) AS BIGINT) + 1
                    THEN (1e0 - (p50 - floor(p50))) * l_quantity END)
           + COALESCE(MAX(CASE WHEN rn = CAST(floor(p50) AS BIGINT) + 2
                          THEN (p50 - floor(p50)) * l_quantity END), 0e0)
               AS p50_cont,
           MAX(CASE WHEN rn = CAST(floor(p90) AS BIGINT) + 1
                    THEN (1e0 - (p90 - floor(p90))) * l_quantity END)
           + COALESCE(MAX(CASE WHEN rn = CAST(floor(p90) AS BIGINT) + 2
                          THEN (p90 - floor(p90)) * l_quantity END), 0e0)
               AS p90_cont
    FROM pos GROUP BY l_returnflag
    """,
)
def percentile_cont_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_CONT semantics (linear interpolation between the
    two bracketing order statistics) next to the engine's
    nearest-rank family — the SQL-standard continuous percentile,
    reproduced deterministically: the fractional position p*(n-1) is
    one fixed double expression, the two bracketing rows are integer
    rank picks inside an ordinary aggregate (conditional MAX at
    rank floor+1 and floor+2), and the interpolation is a fixed-order
    weighted sum. No percentile UDAF, no second sort — one window
    rank + one hash aggregate, same plan family as
    ``percentile_exact_quantity``. When the position is integral the
    upper term is absent (COALESCE 0), matching PERCENTILE_CONT
    exactly. Null quantities are excluded before ranking on both
    engines — SQL-standard PERCENTILE_CONT ignores nulls, and leaving
    them in puts them at opposite ends of the two engines' default
    sort orders (the null_sweep audit class).
    """
    li = Catalog(spark, sf_dir).lineitem.filter(
        F.col("l_quantity").isNotNull())
    wr = W.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber")
    wn = W.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag", "l_quantity",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))
    pos = ranked.select(
        "l_returnflag", "l_quantity", "rn", "n",
        (F.lit(0.5) * (F.col("n") - 1)).alias("p50"),
        (F.lit(0.9) * (F.col("n") - 1)).alias("p90"))

    def cont(p):
        lo = F.floor(F.col(p)).cast("long")
        frac = F.col(p) - F.floor(F.col(p))
        lo_term = F.max(F.when(F.col("rn") == lo + 1,
                               (F.lit(1.0) - frac) * F.col("l_quantity")))
        hi_term = F.coalesce(
            F.max(F.when(F.col("rn") == lo + 2, frac * F.col("l_quantity"))),
            F.lit(0.0))
        return lo_term + hi_term

    return (pos.groupBy("l_returnflag")
            .agg(F.max("n").alias("n_rows"),
                 cont("p50").alias("p50_cont"),
                 cont("p90").alias("p90_cont")))


@query(
    "equidepth_histogram_bounds",
    oracle="""
    WITH t AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               NTILE(10) OVER (ORDER BY CAST(ROUND(o_totalprice * 100)
                                             AS BIGINT), o_orderkey) AS b
        FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT b AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(cents) AS DOUBLE) / 100e0 AS lo,
           CAST(MAX(cents) AS DOUBLE) / 100e0 AS hi
    FROM t GROUP BY b
    """,
)
def equidepth_histogram_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: ten buckets holding equal row counts,
    with their value boundaries — the optimizer-statistics histogram
    (selectivity per bucket is 1/k by construction, unlike the
    equi-width ``numeric_histogram`` whose buckets starve in dense
    regions). NTILE over (cents, orderkey) makes bucket assignment a
    deterministic total order; bounds come from the per-bucket
    min/max in the same pass. The global sort is the one inherent
    cost — at table scale this becomes rank-against-broadcast-KLL-
    cutpoints (the RFM pattern), same output contract. Null prices
    are excluded on both engines — a histogram describes observed
    values, and unfiltered nulls land at opposite sort ends of the
    two engines' defaults.
    """
    o = Catalog(spark, sf_dir).orders.filter(
        F.col("o_totalprice").isNotNull())
    from ..functions.exact import cents as cents_
    t = o.select(cents_(F.col("o_totalprice")).alias("cents"), "o_orderkey")
    b = F.ntile(10).over(W.orderBy("cents", "o_orderkey"))
    return (t.withColumn("bucket", b)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.min("cents").cast("double") / 100e0).alias("lo"),
                 (F.max("cents").cast("double") / 100e0).alias("hi")))


@query(
    "weighted_median_price",
    oracle="""
    WITH t AS (
        SELECT l_returnflag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS w,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                            l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag) AS tw
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    )
    SELECT l_returnflag,
           CAST(MAX(tw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN cents END) AS DOUBLE)
               / 100e0 AS weighted_median
    FROM t GROUP BY l_returnflag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median: the price at which half the total QUANTITY
    (not half the rows) lies below — the volume-weighted order
    statistic a plain median gets wrong whenever line sizes vary.
    Selection rule: first value (in a deterministic total order)
    whose cumulative weight reaches half the group total, stated as
    the exact integer inequality 2*cw >= tw — no division, no
    interpolation, bit-reproducible. One keyed window pass computes
    both cumulative and total weights; the pick is a conditional MIN
    in an ordinary aggregate. Only fully-observed (price, weight)
    pairs participate, on both engines — a null price cannot be a
    median candidate and a null weight contributes no volume.
    """
    li = Catalog(spark, sf_dir).lineitem.filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull())
    from ..functions.exact import cents as cents_
    c = cents_(F.col("l_extendedprice"))
    wo = (W.partitionBy("l_returnflag")
          .orderBy(c, "l_orderkey", "l_linenumber")
          .rowsBetween(W.unboundedPreceding, 0))
    wall = W.partitionBy("l_returnflag")
    t = li.select(
        "l_returnflag", c.alias("cents"),
        F.sum(F.col("l_quantity").cast("long")).over(wo).alias("cw"),
        F.sum(F.col("l_quantity").cast("long")).over(wall).alias("tw"))
    return (t.groupBy("l_returnflag")
            .agg(F.max("tw").alias("total_weight"),
                 (F.min(F.when(2 * F.col("cw") >= F.col("tw"),
                               F.col("cents"))).cast("double") / 100e0)
                 .alias("weighted_median")))


@query(
    "trimmed_mean_price",
    oracle="""
    WITH t AS (
        SELECT l_returnflag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                            l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    )
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (rn > n // 10 AND rn <= n - n // 10)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                         THEN cents END) AS DOUBLE)
               / COUNT(*) FILTER (rn > n // 10 AND rn <= n - n // 10)
               / 100e0 AS trimmed_mean
    FROM t GROUP BY l_returnflag
    """,
)
def trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided TRIMMED mean — the robust location estimator
    between the outlier-fragile mean and the information-discarding
    median: drop the lowest and highest n//10 observations (exact
    integer rank cuts in a deterministic total order), average the
    rest under the exact-money policy. One keyed window pass for
    ranks, conditional integer sums, a single trailing double
    division chain. Null prices are excluded on both engines — the
    trim cuts are rank positions over observed values only.
    """
    li = Catalog(spark, sf_dir).lineitem.filter(
        F.col("l_extendedprice").isNotNull())
    from ..functions.exact import cents as cents_
    c = cents_(F.col("l_extendedprice"))
    wo = W.partitionBy("l_returnflag").orderBy(c, "l_orderkey",
                                               "l_linenumber")
    wall = W.partitionBy("l_returnflag")
    t = li.select(
        "l_returnflag", c.alias("cents"),
        F.row_number().over(wo).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"))
    kept = (F.col("rn") > F.expr("n div 10")) \
        & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
    return (t.groupBy("l_returnflag")
            .agg(F.sum(kept.cast("long")).alias("n_kept"),
                 (F.sum(F.when(kept, F.col("cents"))).cast("double")
                  / F.sum(kept.cast("long")) / 100e0).alias("trimmed_mean")))


@query(
    "rollup_reuse_two_grain",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / 100e0 AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def rollup_reuse_two_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup REUSE across time grains: the daily aggregate is
    computed FROM the hourly aggregate (count-sum partials merged
    upward), never from raw events — the materialized-cube pattern
    where each coarser grain costs |finer grain| rows instead of a
    fact-table rescan. The oracle aggregates raw events directly;
    equality proves the partials are losslessly mergeable, which the
    exact-money policy guarantees (integer cent sums) and float sums
    would not. Same mergeability contract the continuous rollup
    store and ivm_append_agg_view rely on.
    """
    ev = Catalog(spark, sf_dir).events
    from ..functions.exact import cents as cents_
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                         "event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(cents_(F.col("value"))).alias("cents")))
    return (hourly.groupBy(F.date_trunc("day", "hour").cast("date")
                           .alias("day"), "event_type")
            .agg(F.sum("n").alias("n"),
                 (F.sum("cents").cast("double") / 100e0)
                 .alias("total_value")))


@query(
    "ab_test_arm_metrics",
    oracle="""
    WITH arms AS (
        SELECT user_id,
               CASE WHEN (('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                             1, 4))::INTEGER % 2) = 0
                    THEN 'A' ELSE 'B' END AS arm,
               CAST(MAX(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS converted,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1
    )
    SELECT arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS conversion_rate,
           CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / COUNT(*) / 100e0
               AS revenue_per_user
    FROM arms GROUP BY arm
    """,
)
def ab_test_arm_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation primitive: deterministic 50/50 hash
    randomization of users into arms (the md5 idiom — assignment is a
    pure function of user_id, so re-runs, backfills, and both engines
    agree on every user's arm), then per-arm conversion and
    revenue-per-user under the exact-money policy. This is the
    assignment-plus-readout half of an A/B system; significance
    testing composes from these counts with the Wilson operator's
    machinery. One user-level aggregate, one arm-level rollup —
    the arm key is 2-valued, so everything after the first shuffle
    is constant-sized.
    """
    ev = Catalog(spark, sf_dir).events
    from ..functions.exact import cents as cents_
    hex4 = F.substring(F.md5(F.col("user_id").cast("string")), 1, 4)
    arm = F.when(F.conv(hex4, 16, 10).cast("int") % 2 == 0,
                 F.lit("A")).otherwise(F.lit("B"))
    arms = (ev.groupBy("user_id")
            .agg(F.max((F.col("event_type") == "purchase").cast("long"))
                 .alias("converted"),
                 F.sum(cents_(F.col("value"))).alias("cents"))
            .withColumn("arm", arm))
    return (arms.groupBy("arm")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("converted").alias("n_converted"),
                 (F.sum("converted").cast("double") / F.count(F.lit(1)))
                 .alias("conversion_rate"),
                 (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100e0)
                 .alias("revenue_per_user")))


@query(
    "cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS DATE)
                   AS cohort_week
        FROM events GROUP BY user_id
    ), weekly AS (
        SELECT f.cohort_week,
               date_diff('week', f.cohort_week,
                         CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP))
                              AS DATE)) AS age_weeks,
               CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events e JOIN firsts f USING (user_id)
        GROUP BY 1, 2
    ), sized AS (
        SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
        FROM firsts GROUP BY cohort_week
    )
    SELECT w.cohort_week, CAST(w.age_weeks AS INT) AS age_weeks,
           s.cohort_users,
           CAST(SUM(w.cents) OVER (PARTITION BY w.cohort_week
                                   ORDER BY w.age_weeks
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / s.cohort_users / 100e0 AS cum_ltv_per_user
    FROM weekly w JOIN sized s USING (cohort_week)
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative revenue per user by
    cohort week and age — the money sibling of the retention matrix
    (``retention_weekly_cohorts``), and the curve a growth model
    extrapolates. Exactness: weekly cents are integer sums, the
    cumulative window runs over integers, and the per-user division
    happens once per output cell; the cumulative window partitions by
    cohort over |weeks| rows — metadata-sized after the first
    aggregates.
    """
    ev = Catalog(spark, sf_dir).events
    from ..functions.exact import cents as cents_
    firsts = (ev.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).cast("date")
                   .alias("cohort_week")))
    wk = F.date_trunc("week", "ts").cast("date")
    weekly = (ev.join(firsts, "user_id")
              .groupBy("cohort_week",
                       ((F.datediff(wk, F.col("cohort_week"))) / 7)
                       .cast("int").alias("age_weeks"))
              .agg(F.sum(cents_(F.col("value"))).alias("cents")))
    sized = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users"))
    wcum = (W.partitionBy("cohort_week").orderBy("age_weeks")
            .rowsBetween(W.unboundedPreceding, 0))
    return (weekly.join(sized, "cohort_week")
            .select("cohort_week", "age_weeks", "cohort_users",
                    (F.sum("cents").over(wcum).cast("double")
                     / F.col("cohort_users") / 100e0)
                    .alias("cum_ltv_per_user")))


@query(
    "exact_median_two_pass",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), mm AS (
        SELECT MIN(c) AS lo, MAX(c) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n FROM v
    ), b AS (
        SELECT c, ((c - lo) * 64) // (hi - lo + 1) AS bucket_id
        FROM v, mm
    ), hist AS (
        SELECT bucket_id, CAST(COUNT(*) AS BIGINT) AS n_in_bucket
        FROM b GROUP BY bucket_id
    ), ranked AS (
        SELECT c, bucket_id, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM b
    ), sel AS (
        SELECT ranked.c AS median_cents, ranked.bucket_id
        FROM ranked, mm WHERE rn = (n + 1) // 2
    )
    SELECT mm.n AS n_total, (mm.n + 1) // 2 AS target_rank,
           CAST(sel.bucket_id AS BIGINT) AS bucket_id,
           hist.n_in_bucket, sel.median_cents
    FROM mm, sel JOIN hist ON hist.bucket_id = sel.bucket_id
    """,
)
def exact_median_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median by two-pass bucket selection — the
    distributed order-statistic algorithm that replaces "sort
    everything" at scale. ``percentile_exact_quantity`` sorts WITHIN
    groups (fine: each group fits an executor); a GLOBAL exact median
    of one huge column can't ride that plan — a full global sort
    funnels the corpus through a range exchange just to read one row.

    Two passes instead: (1) histogram — bucket every value into 64
    equi-width integer buckets (bounds from a broadcast 1-row min/max
    aggregate), cumulative counts locate the bucket containing rank
    ceil(n/2) and the residual offset within it; (2) residual — rank
    only THAT bucket's rows (expected n/64 of the data; recurse the
    same split at 100 TB until the residual fits one executor) and
    pick the offset-th smallest. Everything composes lazily: the
    picked-bucket row broadcasts back into the pass-2 filter, so the
    fact table is scanned three times (stats, histogram, residual) and
    shuffled never — pass 1 moves 64 histogram rows, pass 2 moves one
    bucket, and the stats pass reads parquet footer min/max/count
    metadata at scale instead of data.

    The oracle cross-checks with the naive global ROW_NUMBER pick;
    cents-integer arithmetic end to end (exact.py policy), and the
    rank-r order statistic is a unique value, so both formulations
    agree bit-for-bit. Null prices are excluded on both engines —
    the median is an order statistic over observed values.
    """
    li = Catalog(spark, sf_dir).lineitem
    from ..functions.exact import cents

    v = li.filter(F.col("l_extendedprice").isNotNull()).select(
        cents(F.col("l_extendedprice")).alias("c"))
    # The 1-row stats aggregate is referenced by the bucketing of both
    # downstream passes; a lazy checkpoint computes it once (at 100 TB
    # min/max/count come free from parquet footer statistics, making
    # this pass metadata-only).
    mm = v.agg(F.min("c").alias("lo"), F.max("c").alias("hi"),
               F.count(F.lit(1)).alias("n")).localCheckpoint(eager=False)
    b = (v.crossJoin(F.broadcast(mm))
         .withColumn("bucket_id",
                     F.expr("((c - lo) * 64) div (hi - lo + 1)")))

    hist = b.groupBy("bucket_id").agg(
        F.count(F.lit(1)).alias("n_in_bucket"), F.max("n").alias("n"))
    cum = hist.withColumn(
        "cum", F.sum("n_in_bucket").over(
            W.orderBy("bucket_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
    picked = (cum.withColumn("target_rank", F.expr("(n + 1) div 2"))
              .filter(F.col("cum") >= F.col("target_rank"))
              .orderBy("bucket_id").limit(1)
              .withColumn("offset",
                          F.col("target_rank") - F.col("cum")
                          + F.col("n_in_bucket"))
              .select("bucket_id", "n_in_bucket", "n", "target_rank",
                      "offset"))

    residual = b.select("c", "bucket_id").join(F.broadcast(picked),
                                               "bucket_id")
    rn = F.row_number().over(
        W.partitionBy("bucket_id").orderBy("c"))
    return (residual.withColumn("rn", rn)
            .filter(F.col("rn") == F.col("offset"))
            .select(F.col("n").alias("n_total"), "target_rank",
                    "bucket_id", "n_in_bucket",
                    F.col("c").alias("median_cents")))


@query(
    "sorted_neighborhood_pairs",
    oracle="""
    WITH names AS (
        SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM part GROUP BY p_name
    ), ranked AS (
        SELECT p_name, n_rows,
               ROW_NUMBER() OVER (ORDER BY p_name) AS rn
        FROM names
    ), offsets AS (
        SELECT unnest([1, 2, 3]) AS off
    ), cand AS (
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               a.n_rows AS n_rows_a, b.n_rows AS n_rows_b,
               CAST(b.rn - a.rn AS BIGINT) AS rank_gap
        FROM ranked a
        CROSS JOIN offsets o
        JOIN ranked b ON b.rn = a.rn + o.off
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist,
           rank_gap, n_rows_a, n_rows_b
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 3
    ORDER BY name_a, name_b
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate generation by the SORTED
    NEIGHBORHOOD method (Hernández–Stolfo): sort the distinct-name
    dictionary, compare each spelling only to the w = 3 names that
    follow it in sort order, keep pairs within Levenshtein 3 (the part-name vocabulary's
    spellings sit farther apart than true typos; 3 keeps the demo
    non-vacuous at every SF while the method is unchanged). The
    complementary blocking strategy to ``fuzzy_name_pairs``' token
    blocking — sorted neighborhood recalls pairs whose shared PREFIX
    survives the typo (an early-character edit breaks it; that is the
    method's documented recall trade, traditionally patched with a
    second pass on a rotated key).

    Scale shape: dictionary-first (the quadratic step never sees the
    row table), then the window comparison becomes 3 EQUI-joins on
    rank (rn + off = rn via an exploded offset relation) — no range
    join, no self cross-join; candidate count is exactly 3·|dict|.
    The global name sort is a single-partition window over the
    DICTIONARY relation only (the KS-binning caveat applies;
    production shards the sort by a name prefix and overlaps
    windows at shard boundaries). Levenshtein's O(len²) DP runs on
    surviving candidates only, JVM-side in both engines.
    """
    from pyspark.sql import Window as W

    cat = Catalog(spark, sf_dir)
    names = cat.part.groupBy("p_name").agg(
        F.count(F.lit(1)).alias("n_rows"))
    ranked = (names.select(
        "p_name", "n_rows",
        F.row_number().over(W.orderBy("p_name")).alias("rn"))
        .localCheckpoint(eager=False))
    offs = spark.range(1, 4).select(F.col("id").alias("off"))
    a = ranked.select(F.col("p_name").alias("name_a"),
                      F.col("n_rows").alias("n_rows_a"),
                      F.col("rn").alias("rn_a"))
    b = ranked.select(F.col("p_name").alias("name_b"),
                      F.col("n_rows").alias("n_rows_b"),
                      F.col("rn").alias("rn_b"))
    cand = (a.crossJoin(F.broadcast(offs))
            .withColumn("rn_b", F.col("rn_a") + F.col("off"))
            .join(b, "rn_b"))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (cand.withColumn("dist", dist.cast("int"))
            .filter(F.col("dist") <= 3)
            .select("name_a", "name_b", "dist",
                    (F.col("rn_b") - F.col("rn_a")).alias("rank_gap"),
                    "n_rows_a", "n_rows_b")
            .orderBy("name_a", "name_b"))


@query(
    "share_of_parent_rollup",
    oracle="""
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS BIGINT) AS nation_cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    ), shares AS (
        SELECT region, nation, nation_cents,
               CAST(SUM(nation_cents) OVER (PARTITION BY region)
                    AS BIGINT) AS region_cents,
               CAST(SUM(nation_cents) OVER () AS BIGINT) AS grand_cents
        FROM rev
    )
    SELECT region, nation, nation_cents, region_cents, grand_cents,
           CAST(1000000 * CAST(nation_cents AS HUGEINT)
                // region_cents AS BIGINT) AS share_of_region_micros,
           CAST(1000000 * CAST(region_cents AS HUGEINT)
                // grand_cents AS BIGINT) AS region_share_micros
    FROM shares
    ORDER BY region, nation
    """,
)
def share_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent along the region → nation hierarchy — the BI
    drill-down companion to plain ROLLUP (which gives LEVEL subtotals
    but not each row's share OF its parent): per nation, revenue, its
    share of its region, and the region's share of the grand total,
    every share an exact integer-micros floor-div over exact cent
    sums.

    Plan: ONE fact-table aggregate (orders joined to broadcast
    customer/nation/region dims, grouped at the finest level), then
    both parent totals are window sums over the 25-row nation
    relation — the parent levels are re-aggregations of the child
    aggregate, never second fact scans.
    """
    from pyspark.sql import Window as W

    cat = Catalog(spark, sf_dir)
    rev = (cat.orders
           .join(F.broadcast(cat.customer.select("c_custkey",
                                                 "c_nationkey")),
                 F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(cat.nation.select("n_nationkey",
                                               "n_name", "n_regionkey")),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(cat.region.select("r_regionkey", "r_name")),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .groupBy(F.col("r_name").alias("region"),
                    F.col("n_name").alias("nation"))
           .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .alias("nation_cents")))
    shares = (rev
              .withColumn("region_cents",
                          F.sum("nation_cents").over(
                              W.partitionBy("region")))
              .withColumn("grand_cents",
                          F.sum("nation_cents").over(
                              W.partitionBy(F.lit(1)))))
    return (shares.select(
        "region", "nation", "nation_cents", "region_cents", "grand_cents",
        # 128-bit lanes: 10^6 x corpus-level cent sums pass int64
        # around sf100.
        F.expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * nation_cents"
               " div CAST(region_cents AS DECIMAL(38,0)) AS BIGINT)")
        .alias("share_of_region_micros"),
        F.expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * region_cents"
               " div CAST(grand_cents AS DECIMAL(38,0)) AS BIGINT)")
        .alias("region_share_micros"))
        .orderBy("region", "nation"))


@query(
    "business_days_latency",
    oracle="""
    WITH base AS (
        SELECT o.o_orderpriority,
               CAST(datediff('day', o.o_orderdate, l.l_shipdate)
                    AS BIGINT) AS n,
               CAST(isodow(o.o_orderdate) - 1 AS BIGINT) AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    ), bd AS (
        SELECT o_orderpriority,
               (n // 7) * 5 + (n % 7)
               - (GREATEST(0, LEAST(s + (n % 7), 6) - GREATEST(s + 1, 5)
                              + 1)
                  + CASE WHEN s + (n % 7) >= 12 THEN 1 ELSE 0 END)
                   AS busdays
        FROM base
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(MIN(busdays) AS BIGINT) AS min_busdays,
           CAST(MAX(busdays) AS BIGINT) AS max_busdays,
           CAST(1000000 * CAST(SUM(busdays) AS BIGINT) // COUNT(*)
                AS BIGINT) AS avg_busdays_micros
    FROM bd
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def business_days_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency in BUSINESS days per order priority —
    the SLA metric operations teams actually track (calendar-day
    latency overstates weekend-spanning orders by up to 2 days).

    Rows shipping BEFORE their order date (a fixture artifact — half
    the synthetic lineitems are backdated) are excluded as
    data-quality rejects: the closed form is defined for n ≥ 0, and a
    negative "latency" is an upstream integrity violation for
    ``dq_constraint_audit``, not an SLA observation.

    Weekday counting is a CLOSED FORM, not a calendar explode: with
    n = calendar days and s = isodow(start) − 1, the business days in
    (start, start+n] are n//7·5 + (n%7) − |weekend hits in the
    remainder|, where the remainder's weekend hits reduce to one
    LEAST/GREATEST interval intersection plus one wrap term (the
    remainder walk s+1..s+(n%7) ≤ 12 crosses absolute weekend
    positions {5, 6, 12}). Pure integer scan-level arithmetic — no
    7× row multiplier, no calendar dim join — then one per-priority
    aggregate. Spark's weekday() (0 = Monday) mirrors DuckDB's
    isodow − 1 exactly.
    """
    cat = Catalog(spark, sf_dir)
    base = (cat.lineitem.select("l_orderkey", "l_shipdate")
            .join(cat.orders.select("o_orderkey", "o_orderdate",
                                    "o_orderpriority"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
            .select("o_orderpriority",
                    F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
                    .cast("long").alias("n"),
                    F.weekday(F.col("o_orderdate")).cast("long")
                    .alias("s")))
    bd = base.select(
        "o_orderpriority",
        F.expr("(n div 7) * 5 + (n % 7)"
               " - (GREATEST(0L, LEAST(s + (n % 7), 6L)"
               "               - GREATEST(s + 1, 5L) + 1)"
               "    + CASE WHEN s + (n % 7) >= 12 THEN 1 ELSE 0 END)")
        .alias("busdays"))
    return (bd.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.min("busdays").alias("min_busdays"),
                 F.max("busdays").alias("max_busdays"),
                 F.expr("1000000 * sum(busdays) div count(1)")
                 .alias("avg_busdays_micros"))
            .orderBy("o_orderpriority"))


@query(
    "prorate_order_total",
    oracle="""
    WITH lines AS (
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(l.l_quantity AS BIGINT) AS qty,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_cents
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_orderkey % 97 = 0
    ), grouped AS (
        SELECT l_orderkey, l_linenumber, qty, total_cents,
               CAST(SUM(qty) OVER (PARTITION BY l_orderkey) AS BIGINT)
                   AS q_tot
        FROM lines
    ), based AS (
        SELECT l_orderkey, l_linenumber, qty, total_cents, q_tot,
               total_cents * qty // q_tot AS base_cents,
               total_cents * qty % q_tot AS rem_scaled,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY total_cents * qty % q_tot DESC,
                            l_linenumber, qty) AS rk,
               CAST(SUM(total_cents * qty % q_tot)
                    OVER (PARTITION BY l_orderkey) // q_tot AS BIGINT)
                   AS n_extra
        FROM grouped
    )
    SELECT l_orderkey, l_linenumber, qty,
           CAST(base_cents + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents,
           total_cents
    FROM based
    ORDER BY l_orderkey, l_linenumber
    """,
)
def prorate_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact header-to-line proration — the finance/billing staple:
    spread each order's header total across its lines proportionally
    to quantity so the per-line allocations are integral cents AND
    sum back to the header total EXACTLY (naive rounding leaks ±n/2
    cents per order; auditors notice). Largest-remainder method per
    group: base = floor(T·q_i/Q), then one extra cent to the
    r = Σ(T·q_i mod Q)/Q lines with the largest scaled remainders
    (tie-break by linenumber then qty: the fixture carries duplicate
    (orderkey, linenumber) rows, and adding qty makes any residual
    ties interchangeable rows — same base, same extra — so the output
    MULTISET is engine- and run-stable) — Hamilton apportionment
    (``sample_allocation_largest_remainder``) applied per-order via
    keyed windows.

    Scale shape: all three windows (quantity total, remainder rank,
    remainder sum) partition on l_orderkey — ONE keyed exchange, no
    global sort, no driver round-trip; the %97 slice bounds checked
    output while exercising the full per-group arithmetic.
    """
    from pyspark.sql import Window as W

    cat = Catalog(spark, sf_dir)
    lines = (cat.lineitem
             .filter(F.col("l_orderkey") % 97 == 0)
             .select("l_orderkey", "l_linenumber",
                     F.col("l_quantity").cast("long").alias("qty"))
             .join(cat.orders.filter(F.col("o_orderkey") % 97 == 0)
                   .select("o_orderkey",
                           F.round(F.col("o_totalprice") * 100)
                           .cast("long").alias("total_cents")),
                   F.col("l_orderkey") == F.col("o_orderkey")))
    wk = W.partitionBy("l_orderkey")
    based = (lines
             .withColumn("q_tot", F.sum("qty").over(wk))
             .withColumn("base_cents",
                         F.expr("total_cents * qty div q_tot"))
             .withColumn("rem_scaled",
                         F.expr("total_cents * qty % q_tot"))
             .withColumn("rk", F.row_number().over(
                 wk.orderBy(F.col("rem_scaled").desc(), "l_linenumber",
                            "qty")))
             .withColumn("n_extra",
                         F.expr("sum(rem_scaled)").over(wk)
                         .cast("long"))
             .withColumn("n_extra", F.expr("n_extra div q_tot")))
    return (based.select(
        "l_orderkey", "l_linenumber", "qty",
        (F.col("base_cents")
         + F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0))
        .cast("long").alias("alloc_cents"),
        "total_cents")
        .orderBy("l_orderkey", "l_linenumber"))


@query(
    "abc_pareto_classes",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS BIGINT) AS part_cents
        FROM lineitem GROUP BY l_partkey
    ), walked AS (
        SELECT l_partkey, part_cents,
               CAST(SUM(part_cents) OVER (
                   ORDER BY part_cents DESC, l_partkey) AS BIGINT)
                   AS cum_cents,
               CAST(SUM(part_cents) OVER () AS BIGINT) AS total_cents
        FROM per_part
    ), classed AS (
        SELECT CASE WHEN 1000000 * CAST(cum_cents AS HUGEINT)
                         // total_cents <= 800000
                    THEN 'A'
                    WHEN 1000000 * CAST(cum_cents AS HUGEINT)
                         // total_cents <= 950000
                    THEN 'B' ELSE 'C' END AS abc_class,
               part_cents
        FROM walked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(CAST(SUM(part_cents) AS BIGINT) AS BIGINT)
               AS class_cents,
           CAST(1000000 * CAST(SUM(part_cents) AS HUGEINT)
                // MAX(total_cents) AS BIGINT) AS share_micros
    FROM (SELECT c.*, w.total_cents
          FROM classed c CROSS JOIN (SELECT DISTINCT total_cents
                                     FROM walked) w)
    GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def abc_pareto_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto 80/15/5) inventory classification: parts whose
    cumulative revenue share reaches 80% are class A, to 95% class B,
    the long tail class C — the purchasing/inventory-policy
    segmentation every supply-chain stack ships. Classification
    threshold is the exact integer cumulative share (10⁶·cum div
    total), deterministic order (revenue desc, partkey).

    Plan: ONE fact aggregate (part → exact cents, the only
    corpus-sized shuffle), then the cumulative walk runs over the
    part DICTIONARY relation (the KS-binning caveat applies at
    extreme part counts; the standard remedy — classify bands of
    parts by a first-pass histogram — composes without changing the
    output contract), and a 3-row rollup.
    """
    from pyspark.sql import Window as W

    li = Catalog(spark, sf_dir).lineitem
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .alias("part_cents"))
    walked = (per_part
              .withColumn("cum_cents", F.sum("part_cents").over(
                  W.orderBy(F.col("part_cents").desc(), "l_partkey")
                  .rowsBetween(W.unboundedPreceding, W.currentRow)))
              .withColumn("total_cents", F.sum("part_cents").over(
                  W.partitionBy(F.lit(1)))))
    classed = walked.withColumn(
        "abc_class",
        F.when(F.expr("CAST(1000000 AS DECIMAL(38,0)) * cum_cents"
                      " div CAST(total_cents AS DECIMAL(38,0))")
               <= 800000, "A")
        .when(F.expr("CAST(1000000 AS DECIMAL(38,0)) * cum_cents"
                     " div CAST(total_cents AS DECIMAL(38,0))")
              <= 950000, "B")
        .otherwise("C"))
    return (classed.groupBy("abc_class")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum("part_cents").alias("class_cents"),
                 F.expr("CAST(CAST(1000000 AS DECIMAL(38,0))"
                        " * sum(part_cents)"
                        " div CAST(max(total_cents) AS DECIMAL(38,0))"
                        " AS BIGINT)").alias("share_micros"))
            .orderBy("abc_class"))


@query(
    "bitpacked_flags_audit",
    oracle="""
    WITH line_stats AS (
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS any_returned
        FROM lineitem GROUP BY l_orderkey
    ), flags AS (
        SELECT (CASE WHEN o.o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END)
               | (CASE WHEN o.o_totalprice > 150000
                       THEN 2 ELSE 0 END)
               | (CASE WHEN ls.n_lines > 4 THEN 4 ELSE 0 END)
               | (CASE WHEN ls.any_returned = 1 THEN 8 ELSE 0 END)
                   AS flag_mask
        FROM orders o JOIN line_stats ls
          ON ls.l_orderkey = o.o_orderkey
    )
    SELECT CAST(flag_mask AS BIGINT) AS flag_mask,
           CAST(bit_count(CAST(flag_mask AS BIGINT)) AS BIGINT)
               AS n_flags_set,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM flags
    GROUP BY flag_mask
    ORDER BY flag_mask
    """,
)
def bitpacked_flags_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-packed boolean flag encoding + combination census — the
    warehouse idiom that stores N boolean attributes in ONE integer
    column (urgent|high-value|multi-line|any-returned here): the
    flag mask is pure scan-level bit arithmetic (CASE·2ᵏ OR-folded),
    and the census over 2⁴ possible masks answers every conjunction
    query ("urgent AND returned" = masks with bits 0+3 set) from a
    16-row summary instead of a fact rescan. bit_count grades
    flag co-occurrence density.

    At 100 TB this is the segmentation-cube pattern: one orders ⋈
    per-order line aggregate (the only shuffles, both on the join
    key), one 16-row rollup; adding a flag is a new bit, not a new
    column or pass. Both engines share the identical |, <<-free
    literal-weight arithmetic and bit_count.
    """
    cat = Catalog(spark, sf_dir)
    line_stats = (cat.lineitem
                  .groupBy("l_orderkey")
                  .agg(F.count(F.lit(1)).alias("n_lines"),
                       F.max((F.col("l_returnflag") == "R")
                             .cast("long")).alias("any_returned")))
    flags = (cat.orders
             .join(line_stats,
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .select(
                 (F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                  .otherwise(0)
                  .bitwiseOR(
                      F.when(F.col("o_totalprice") > 150000, 2)
                      .otherwise(0))
                  .bitwiseOR(
                      F.when(F.col("n_lines") > 4, 4).otherwise(0))
                  .bitwiseOR(
                      F.when(F.col("any_returned") == 1, 8)
                      .otherwise(0)))
                 .cast("long").alias("flag_mask")))
    return (flags.groupBy("flag_mask")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .select("flag_mask",
                    F.bit_count("flag_mask").cast("long")
                    .alias("n_flags_set"),
                    "n_orders")
            .orderBy("flag_mask"))


@query(
    "diff_in_diff_estimate",
    oracle="""
    WITH assigned AS (
        SELECT CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                          1, 4))::INTEGER % 2 = 0
                    THEN 'treat' ELSE 'control' END AS arm,
               CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                    THEN 'pre' ELSE 'post' END AS period,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               user_id
        FROM events WHERE value IS NOT NULL
    ), cell AS (
        SELECT arm, period,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(CAST(SUM(cents) AS BIGINT) AS BIGINT) AS cents
        FROM assigned GROUP BY arm, period
    ), wide AS (
        SELECT
            MAX(CASE WHEN arm = 'treat' AND period = 'pre'
                     THEN CAST(cents AS HUGEINT) * 1000000
                          // n_users END) AS t_pre,
            MAX(CASE WHEN arm = 'treat' AND period = 'post'
                     THEN CAST(cents AS HUGEINT) * 1000000
                          // n_users END) AS t_post,
            MAX(CASE WHEN arm = 'control' AND period = 'pre'
                     THEN CAST(cents AS HUGEINT) * 1000000
                          // n_users END) AS c_pre,
            MAX(CASE WHEN arm = 'control' AND period = 'post'
                     THEN CAST(cents AS HUGEINT) * 1000000
                          // n_users END) AS c_post
        FROM cell
    )
    SELECT CAST(t_pre AS BIGINT) AS treat_pre_micros,
           CAST(t_post AS BIGINT) AS treat_post_micros,
           CAST(c_pre AS BIGINT) AS control_pre_micros,
           CAST(c_post AS BIGINT) AS control_post_micros,
           CAST((t_post - t_pre) - (c_post - c_pre) AS BIGINT)
               AS did_micros
    FROM wide
    """,
)
def diff_in_diff_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the causal-inference workhorse
    when an A/B split exists but the metric trends over time: the
    treatment effect is (post − pre) in the treated arm MINUS
    (post − pre) in control, which cancels both the arm-level
    baseline difference and the common time trend. Arms come from
    the ``ab_test_arm_metrics`` md5 hash (pure user_id function),
    periods from the month halves; the per-cell statistic is revenue
    per distinct user in integer micro-cents (cents·10⁶ is exact in
    int64 through sf100; the per-user division is DuckDB integer
    division on BIGINTs, mirrored by Spark's div — one declared
    floor per cell, subtractions thereafter exact).

    One fact aggregate to the 4-cell (arm, period) relation, one
    4-row pivot — the entire causal readout costs one shuffle.
    """
    e = Catalog(spark, sf_dir).events
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
               16, 10).cast("int") % 2 == 0, "treat").otherwise("control")
    period = F.when(F.to_date("ts") < F.lit("2024-01-16").cast("date"),
                    "pre").otherwise("post")
    assigned = (e.filter(F.col("value").isNotNull())
                .select(arm.alias("arm"), period.alias("period"),
                        F.round(F.col("value") * 100).cast("long")
                        .alias("cents"), "user_id"))
    cell = assigned.groupBy("arm", "period").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.sum("cents").alias("cents"))
    pick = lambda a, p: F.max(
        F.when((F.col("arm") == a) & (F.col("period") == p),
               F.expr("CAST(CAST(cents AS DECIMAL(38,0)) * 1000000"
                      " div CAST(n_users AS DECIMAL(38,0))"
                      " AS BIGINT)")))
    wide = cell.agg(
        pick("treat", "pre").alias("t_pre"),
        pick("treat", "post").alias("t_post"),
        pick("control", "pre").alias("c_pre"),
        pick("control", "post").alias("c_post"))
    return wide.select(
        F.col("t_pre").alias("treat_pre_micros"),
        F.col("t_post").alias("treat_post_micros"),
        F.col("c_pre").alias("control_pre_micros"),
        F.col("c_post").alias("control_post_micros"),
        ((F.col("t_post") - F.col("t_pre"))
         - (F.col("c_post") - F.col("c_pre"))).alias("did_micros"))


@query(
    "simpson_paradox_check",
    oracle="""
    WITH c AS (
        SELECT e.event_type,
               CAST(ROUND(e.value * 100) AS BIGINT) AS x,
               CAST(hour(CAST(e.ts AS TIMESTAMP)) AS BIGINT) AS y
        FROM events e WHERE e.value IS NOT NULL
    ), per_group AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
        FROM c GROUP BY event_type
    ), signs AS (
        SELECT event_type, n,
               CASE WHEN CAST(n AS HUGEINT) * sxy
                         - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT)
                         > 0 THEN 1
                    WHEN CAST(n AS HUGEINT) * sxy
                         - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT)
                         < 0 THEN -1
                    ELSE 0 END AS group_sign
        FROM per_group
    ), pooled AS (
        SELECT CASE
            WHEN CAST(COUNT(*) AS HUGEINT)
                 * SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
                 - CAST(SUM(x) AS HUGEINT) * CAST(SUM(y) AS HUGEINT)
                 > 0 THEN 1
            WHEN CAST(COUNT(*) AS HUGEINT)
                 * SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
                 - CAST(SUM(x) AS HUGEINT) * CAST(SUM(y) AS HUGEINT)
                 < 0 THEN -1
            ELSE 0 END AS pooled_sign
        FROM c
    )
    SELECT s.event_type, s.n, s.group_sign,
           p.pooled_sign,
           CAST(CASE WHEN s.group_sign <> 0 AND p.pooled_sign <> 0
                          AND s.group_sign <> p.pooled_sign
                     THEN 1 ELSE 0 END AS BIGINT) AS sign_reversed
    FROM signs s CROSS JOIN pooled p
    ORDER BY s.event_type
    """,
)
def simpson_paradox_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen — does the value↔hour association
    REVERSE sign inside any event-type stratum relative to the pooled
    data? The analytics-QA check that catches aggregation over a
    confounder before a dashboard ships the wrong conclusion.

    The trick that keeps it exact: only the SIGN of the association
    matters, and sign(cov) = sign(n·Σxy − Σx·Σy) — an exact 128-bit
    integer comparison, no division, no sqrt, no correlation value at
    all. Per-stratum signs come from one grouped pass, the pooled
    sign from a 1-row aggregate of the same scan lineage; the flag is
    integer equality logic.
    """
    e = Catalog(spark, sf_dir).events
    c = (e.filter(F.col("value").isNotNull())
         .select("event_type",
                 F.round(F.col("value") * 100).cast("long").alias("x"),
                 F.hour("ts").cast("long").alias("y"))
         .localCheckpoint(eager=False))
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")

    def num(df):
        s = df.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                   F.sum(xd * yd).alias("sxy"))
        w = lambda col: F.col(col).cast("decimal(38,0)")
        return s.select(
            "n", (w("n") * w("sxy") - w("sx") * w("sy")).alias("numr"))

    per_group = (c.groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                      F.sum(xd * yd).alias("sxy")))
    w = lambda col: F.col(col).cast("decimal(38,0)")
    signs = per_group.select(
        "event_type", "n",
        F.when(w("n") * w("sxy") - w("sx") * w("sy") > 0, 1)
        .when(w("n") * w("sxy") - w("sx") * w("sy") < 0, -1)
        .otherwise(0).cast("long").alias("group_sign"))
    pooled = num(c).select(
        F.when(F.col("numr") > 0, 1)
        .when(F.col("numr") < 0, -1)
        .otherwise(0).cast("long").alias("pooled_sign"))
    return (signs.crossJoin(F.broadcast(pooled))
            .withColumn("sign_reversed",
                        ((F.col("group_sign") != 0)
                         & (F.col("pooled_sign") != 0)
                         & (F.col("group_sign") != F.col("pooled_sign")))
                        .cast("long"))
            .select("event_type", "n", "group_sign", "pooled_sign",
                    "sign_reversed")
            .orderBy("event_type"))


@query(
    "golden_record_survivorship",
    oracle="""
    WITH grp AS (
        SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_records
        FROM part GROUP BY p_name HAVING COUNT(*) > 1
    ), brand_votes AS (
        SELECT p.p_name, p.p_brand, CAST(COUNT(*) AS BIGINT) AS c
        FROM part p JOIN grp g ON g.p_name = p.p_name
        WHERE p.p_brand IS NOT NULL
        GROUP BY p.p_name, p.p_brand
    ), brand_pick AS (
        SELECT p_name, p_brand AS survivor_brand FROM (
            SELECT p_name, p_brand,
                   ROW_NUMBER() OVER (PARTITION BY p_name
                                      ORDER BY c DESC, p_brand) AS rn
            FROM brand_votes
        ) WHERE rn = 1
    ), fields AS (
        SELECT p.p_name,
               CAST(MIN(p.p_partkey) AS BIGINT) AS survivor_key,
               CAST(MAX(CAST(ROUND(p.p_retailprice * 100) AS BIGINT))
                    AS BIGINT) AS best_price_cents,
               CAST(MAX(p.p_size) AS BIGINT) AS max_size
        FROM part p JOIN grp g ON g.p_name = p.p_name
        GROUP BY p.p_name
    )
    SELECT f.p_name, g.n_records, f.survivor_key,
           b.survivor_brand, f.best_price_cents, f.max_size
    FROM fields f
    JOIN grp g ON g.p_name = f.p_name
    LEFT JOIN brand_pick b ON b.p_name = f.p_name
    ORDER BY f.p_name
    """,
)
def golden_record_survivorship(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """SURVIVORSHIP — the master-data-management step after entity
    matching (``fuzzy_name_pairs`` / ``sorted_neighborhood_pairs``
    find the duplicate groups; this builds the golden record each
    group ships): per duplicate-spelling group, field-level merge
    rules pick the surviving value — stable minimum key as the
    survivor id, MODE for the brand (most votes, lexicographic
    tie-break), MAX for price and size (the "most complete/recent
    wins" family). Every rule is deterministic, so the golden
    records hash-verify.

    One grouped pass finds the groups, one per-(group, brand) vote
    count feeds a struct-argmax-shaped pick, one fused field
    aggregate computes the rest — group-keyed shuffles only, and
    the vote relation is bounded by (groups × brands present).

    Null semantics (null_sweep audit): survivorship prefers OBSERVED
    values — null brands cast no vote (a NULL vote row otherwise
    wins mode ties in Spark's struct-min while losing them under the
    oracle's NULLS-LAST rank), and a group with no observed brand
    keeps a null survivor_brand through the LEFT join. MIN/MAX field
    rules skip nulls identically in both engines already.
    """
    from pyspark.sql import Window as W

    p = Catalog(spark, sf_dir).part
    grp = (p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_records"))
           .filter(F.col("n_records") > 1))
    dups = p.join(F.broadcast(grp.select("p_name")), "p_name")
    dups = dups.localCheckpoint(eager=False)  # feeds votes + fields
    votes = (dups.filter(F.col("p_brand").isNotNull())
             .groupBy("p_name", "p_brand").agg(
                 F.count(F.lit(1)).alias("c")))
    pick = (votes.groupBy("p_name")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                F.col("p_brand").alias("b"))).alias("s"))
            .select("p_name", F.col("s.b").alias("survivor_brand")))
    fields = dups.groupBy("p_name").agg(
        F.min("p_partkey").alias("survivor_key"),
        F.max(F.round(F.col("p_retailprice") * 100).cast("long"))
        .alias("best_price_cents"),
        F.max("p_size").cast("long").alias("max_size"))
    return (fields
            .join(grp, "p_name")
            .join(pick, "p_name", "left")
            .select("p_name", "n_records", "survivor_key",
                    "survivor_brand", "best_price_cents", "max_size")
            .orderBy("p_name"))


@query(
    "uplift_by_decile",
    oracle="""
    WITH assigned AS (
        SELECT user_id,
               CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                          1, 4))::INTEGER % 2 = 0
                    THEN 'treat' ELSE 'control' END AS arm,
               CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                    THEN 'pre' ELSE 'post' END AS period,
               event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ), pre_value AS (
        SELECT user_id, any_value(arm) AS arm,
               CAST(CAST(SUM(CASE WHEN period = 'pre' THEN cents
                                  ELSE 0 END) AS BIGINT) AS BIGINT)
                   AS pre_cents,
               CAST(MAX(CASE WHEN period = 'post'
                                  AND event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS converted_post
        FROM assigned GROUP BY user_id
    ), ranked AS (
        SELECT *, NTILE(5) OVER (ORDER BY pre_cents, user_id)
                   AS quintile
        FROM pre_value
    ), cells AS (
        SELECT quintile, arm,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(CAST(SUM(converted_post) AS BIGINT) AS BIGINT)
                   AS n_converted
        FROM ranked GROUP BY quintile, arm
    )
    SELECT CAST(t.quintile AS BIGINT) AS quintile,
           t.n_users AS n_treat, c.n_users AS n_control,
           CAST(1000000 * t.n_converted // t.n_users AS BIGINT)
               AS treat_rate_micros,
           CAST(1000000 * c.n_converted // c.n_users AS BIGINT)
               AS control_rate_micros,
           CAST(1000000 * t.n_converted // t.n_users
                - 1000000 * c.n_converted // c.n_users AS BIGINT)
               AS uplift_micros
    FROM cells t JOIN cells c
      ON c.quintile = t.quintile AND t.arm = 'treat'
         AND c.arm = 'control'
    ORDER BY quintile
    """,
)
def uplift_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPLIFT segmentation (Qini-style readout without a model):
    post-period conversion-rate difference between the md5 arms
    WITHIN each pre-period value quintile — the growth-analytics
    question "where does the treatment actually work?" answered by
    stratifying on pre-exposure behavior (a pure covariate, so the
    split stays unconfounded). Completes the experimentation family:
    arm metrics (``ab_test_arm_metrics``) → trend-robust effect
    (``diff_in_diff_estimate``) → heterogeneous effect (this).

    One events aggregate to per-user (arm, pre-value, converted),
    one quintile rank over the USER relation with the deterministic
    user_id tie-break, a 10-cell rollup self-joined treat-vs-control
    per quintile; every rate a floor-div in micros.
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).events
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
               16, 10).cast("int") % 2 == 0, "treat").otherwise("control")
    period_pre = F.to_date("ts") < F.lit("2024-01-16").cast("date")
    assigned = (e.filter(F.col("value").isNotNull())
                .select("user_id", arm.alias("arm"),
                        period_pre.alias("is_pre"), "event_type",
                        F.round(F.col("value") * 100).cast("long")
                        .alias("cents")))
    pre_value = assigned.groupBy("user_id").agg(
        F.first("arm").alias("arm"),
        F.sum(F.when(F.col("is_pre"), F.col("cents")).otherwise(0))
        .alias("pre_cents"),
        F.max((~F.col("is_pre")
               & (F.col("event_type") == "purchase")).cast("long"))
        .alias("converted_post"))
    ranked = pre_value.withColumn(
        "quintile", F.ntile(5).over(W.orderBy("pre_cents", "user_id")))
    cells = ranked.groupBy("quintile", "arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted_post").alias("n_converted"))
    t = (cells.filter(F.col("arm") == "treat")
         .select("quintile", F.col("n_users").alias("n_treat"),
                 F.col("n_converted").alias("conv_t")))
    c = (cells.filter(F.col("arm") == "control")
         .select(F.col("quintile").alias("q_c"),
                 F.col("n_users").alias("n_control"),
                 F.col("n_converted").alias("conv_c")))
    return (t.join(c, F.col("quintile") == F.col("q_c"))
            .select(
                F.col("quintile").cast("long").alias("quintile"),
                "n_treat", "n_control",
                F.expr("1000000 * conv_t div n_treat")
                .alias("treat_rate_micros"),
                F.expr("1000000 * conv_c div n_control")
                .alias("control_rate_micros"),
                F.expr("1000000 * conv_t div n_treat"
                       " - 1000000 * conv_c div n_control")
                .alias("uplift_micros"))
            .orderBy("quintile"))


@query(
    "ab_srm_check",
    oracle="""
    WITH arms AS (
        SELECT user_id,
               CASE WHEN (('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                             1, 4))::INTEGER % 2) = 0
                    THEN 'A' ELSE 'B' END AS arm
        FROM events GROUP BY user_id
    ), counts AS (
        SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b
        FROM arms
    )
    SELECT n_a, n_b,
           CAST((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b)
                AS BIGINT) AS chi2_micros,
           CAST(((n_a - n_b) * (n_a - n_b) * 100
                 <= 384 * (n_a + n_b)) AS BIGINT) AS srm_ok
    FROM counts
    """,
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the experimentation guardrail
    that must run before any arm metric is believed: under the same
    deterministic md5 50/50 assignment as ``ab_test_arm_metrics``,
    the observed arm counts are tested against the designed ratio
    with the two-cell chi-square, which for a 50/50 split reduces to
    (n_A − n_B)²/N. The statistic is emitted in exact integer micros
    and the pass flag is the integer cross-multiplication
    (n_A − n_B)²·100 ≤ 384·N (chi-square(1) critical value 3.84 at
    p=0.05) — no division, no float. An SRM failure means broken
    assignment or differential logging loss; arm metrics over a
    mismatched population are unsalvageable, which is why this audit
    is a first-class operator and not a dashboard afterthought.

    One user-level distinct + one 2-cell aggregate; constant-sized
    after the first shuffle at any scale.
    """
    ev = Catalog(spark, sf_dir).events
    arm = F.when(
        (F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                16, 10).cast("int") % 2) == 0, "A").otherwise("B")
    counts = (ev.select("user_id").distinct()
              .select(arm.alias("arm"))
              .agg(F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
                   .alias("n_a"),
                   F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
                   .alias("n_b")))
    d = F.col("n_a") - F.col("n_b")
    n = F.col("n_a") + F.col("n_b")
    return counts.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.expr("(n_a - n_b) * (n_a - n_b) * 1000000L div (n_a + n_b)")
        .alias("chi2_micros"),
        (d * d * 100 <= 384 * n).cast("long").alias("srm_ok"))


def _er_golden_oracle() -> str:
    from . import ORACLES
    return f"""
    WITH RECURSIVE names AS (
        SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM part GROUP BY p_name
    ), cand AS ({ORACLES['fuzzy_name_pairs']}),
    edges AS (
        SELECT name_a AS src, name_b AS dst FROM cand
        UNION
        SELECT name_b, name_a FROM cand
    ), reach (v, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT reach.v, edges.dst
        FROM reach JOIN edges ON reach.r = edges.src
    ), clusters AS (
        SELECT v AS p_name, MIN(r) AS cluster_id FROM reach GROUP BY v
    ), merged AS (
        SELECT n.p_name, n.n_rows,
               COALESCE(c.cluster_id, n.p_name) AS cluster_id
        FROM names n LEFT JOIN clusters c USING (p_name)
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                     ORDER BY n_rows DESC, p_name) AS rk
        FROM merged
    )
    SELECT cluster_id,
           MAX(CASE WHEN rk = 1 THEN p_name END) AS canonical_name,
           CAST(COUNT(*) AS BIGINT) AS n_spellings,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows
    FROM ranked
    GROUP BY cluster_id
    ORDER BY cluster_id
    """


@query("er_golden_records", oracle=_er_golden_oracle())
def er_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end — the capstone that composes the
    family's registered pieces into one golden-record table:
    ``fuzzy_name_pairs`` (dictionary-first blocking + Levenshtein <= 2
    match edges, called directly so the match policy can never drift),
    min-label connected components with pointer jumping (the
    similarity module's CC engine — transitive closure turns pairwise
    matches into entities), then survivorship: each entity's
    canonical spelling is its most frequent one (ties to the
    lexicographically smallest), with spelling and row counts.
    Unmatched names become singleton entities — a golden-record table
    covers EVERY entity, not just the conflicted ones.

    Scale: blocking bounds the quadratic step to distinct-spelling
    buckets; CC is O(log diameter) shuffle rounds on the match graph
    (spelling-grain, tiny); survivorship is one aggregate on the
    cluster key. The oracle replays matching via the registered
    fuzzy-pairs SQL and closure via WITH RECURSIVE — exact transitive
    truth, no unroll bound.
    """
    from .similarity import connected_components

    cat = Catalog(spark, sf_dir)
    names = cat.part.groupBy("p_name").agg(
        F.count(F.lit(1)).alias("n_rows"))
    pairs = fuzzy_name_pairs(spark, sf_dir).select("name_a", "name_b")
    edges = (pairs.select(F.col("name_a").alias("src"),
                          F.col("name_b").alias("dst"))
             .unionAll(pairs.select(F.col("name_b").alias("src"),
                                    F.col("name_a").alias("dst"))))
    labels, _ = connected_components(edges)
    merged = (names.join(labels, names.p_name == labels.v, "left")
              .select("p_name", "n_rows",
                      F.coalesce(F.col("cluster_id"), F.col("p_name"))
                      .alias("cluster_id")))
    canonical = F.min(F.struct((-F.col("n_rows")).alias("neg"),
                               F.col("p_name").alias("nm")))
    return (merged.groupBy("cluster_id")
            .agg(canonical.getField("nm").alias("canonical_name"),
                 F.count(F.lit(1)).alias("n_spellings"),
                 F.sum("n_rows").alias("total_rows"))
            .orderBy("cluster_id"))


@query(
    "user_feature_vector",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type, value,
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                           OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(new_session) + 1 AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
                AS BIGINT) AS active_days,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clicks,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_value_cents,
           CAST(MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT)
               AS first_seen_us,
           CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT)
               AS last_seen_us
    FROM ordered
    GROUP BY user_id
    """,
)
def user_feature_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store materialization: the per-user feature vector a
    churn or LTV model trains on, assembled in ONE keyed pass —
    activity volume (events, sessions, active days), behavior mix
    (purchases, clicks), exact-cents monetary total, and
    tenure/recency instants. Session count rides the same user_id
    exchange as the aggregate (the sessionize lag marks starts; the
    aggregate sums them), so the whole vector costs one shuffle; at
    100 TB this is the nightly feature-refresh job, and each new
    feature is one more aggregate expression on the same exchange —
    not a new pass. Every lane integer; ratios (events/day, value/
    purchase) are consumer-side divisions.
    """
    ev = Catalog(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = (F.unix_micros(F.col("ts"))
              - F.lag(F.unix_micros(F.col("ts"))).over(w))
    marked = ev.withColumn(
        "new_session",
        F.when(gap_us > 30 * 60 * 1_000_000, 1).otherwise(0))
    return (marked.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum("new_session") + 1).cast("long")
                 .alias("n_sessions"),
                 F.countDistinct(F.col("ts").cast("date"))
                 .alias("active_days"),
                 F.sum(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).cast("long").alias("n_purchases"),
                 F.sum(F.when(F.col("event_type") == "click", 1)
                       .otherwise(0)).cast("long").alias("n_clicks"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("total_value_cents"),
                 F.min(F.unix_micros(F.col("ts"))).alias("first_seen_us"),
                 F.max(F.unix_micros(F.col("ts"))).alias("last_seen_us")))


@query(
    "abc_xyz_classification",
    oracle="""
    WITH weekly AS (
        SELECT l_partkey,
               date_trunc('week', l_shipdate) AS wk,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                   AS qty
        FROM lineitem GROUP BY l_partkey, wk
    ), stats AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n_weeks,
               CAST(SUM(qty) AS HUGEINT) AS sx,
               CAST(SUM(qty * qty) AS HUGEINT) AS sxx
        FROM weekly GROUP BY l_partkey
    ), rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS HUGEINT) AS rev_cents
        FROM lineitem GROUP BY l_partkey
    ), ranked AS (
        SELECT r.l_partkey, r.rev_cents,
               SUM(r.rev_cents) OVER (ORDER BY r.rev_cents DESC,
                                      r.l_partkey
                                      ROWS UNBOUNDED PRECEDING)
                   AS cum_cents,
               SUM(r.rev_cents) OVER () AS total_cents
        FROM rev r
    ), classed AS (
        SELECT s.l_partkey,
               CASE WHEN rk.cum_cents * 100 <= rk.total_cents * 80
                    THEN 'A'
                    WHEN rk.cum_cents * 100 <= rk.total_cents * 95
                    THEN 'B' ELSE 'C' END AS abc_class,
               CASE WHEN s.n_weeks < 2 THEN 'Z'
                    WHEN 4 * (s.n_weeks * s.sxx - s.sx * s.sx)
                         <= s.sx * s.sx THEN 'X'
                    WHEN (s.n_weeks * s.sxx - s.sx * s.sx)
                         <= s.sx * s.sx THEN 'Y'
                    ELSE 'Z' END AS xyz_class,
               s.sx AS total_qty
        FROM stats s JOIN ranked rk USING (l_partkey)
    )
    SELECT abc_class, xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(total_qty) AS BIGINT) AS total_qty
    FROM classed
    GROUP BY abc_class, xyz_class
    ORDER BY abc_class, xyz_class
    """,
)
def abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix — the two-axis classification supply
    planning actually uses: ABC by cumulative revenue share (A ≤ 80%,
    B ≤ 95%, C above — integer cross-multiplied against the total,
    never a float share) crossed with XYZ by demand VARIABILITY —
    the coefficient of variation of weekly shipped quantity, tested
    without any division or sqrt via CV² = (n·Sxx − Sx²)/Sx²:
    X means 4·(n·Sxx − Sx²) ≤ Sx² (CV ≤ 0.5, steady — forecastable),
    Y means CV ≤ 1, Z is erratic (or observed in fewer than 2
    weeks). All moment lanes are 128-bit per the count·count rule.
    The 9-cell census (AX = automate replenishment … CZ = don't
    bother stocking) is the planning readout.

    One lineitem scan per moment family (weekly demand, revenue),
    part-grain windows for the cumulative share, and a 9-row final
    aggregate; part cardinality bounds everything after the first
    shuffles.
    """
    li = Catalog(spark, sf_dir).lineitem
    dec = "decimal(38,0)"
    weekly = (li.groupBy("l_partkey",
                         F.date_trunc("week", F.col("l_shipdate"))
                         .alias("wk"))
              .agg(F.sum(F.round(F.col("l_quantity")).cast("long"))
                   .alias("qty")))
    stats = (weekly.groupBy("l_partkey")
             .agg(F.count(F.lit(1)).alias("n_weeks"),
                  F.sum("qty").cast(dec).alias("sx"),
                  F.sum(F.col("qty") * F.col("qty")).cast(dec)
                  .alias("sxx")))
    rev = (li.groupBy("l_partkey")
           .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                      .cast("long")).cast(dec).alias("rev_cents")))
    w_cum = (W.orderBy(F.col("rev_cents").desc(), "l_partkey")
             .rowsBetween(W.unboundedPreceding, 0))
    ranked = (rev.withColumn("cum_cents", F.sum("rev_cents").over(w_cum))
              .withColumn("total_cents",
                          F.sum("rev_cents").over(
                              W.rowsBetween(W.unboundedPreceding,
                                            W.unboundedFollowing))))
    var_num = (F.col("n_weeks").cast(dec) * F.col("sxx")
               - F.col("sx") * F.col("sx"))
    sx2 = F.col("sx") * F.col("sx")
    xyz = (F.when(F.col("n_weeks") < 2, "Z")
           .when(F.lit(4).cast(dec) * var_num <= sx2, "X")
           .when(var_num <= sx2, "Y")
           .otherwise("Z"))
    abc = (F.when(F.col("cum_cents") * 100 <= F.col("total_cents") * 80,
                  "A")
           .when(F.col("cum_cents") * 100 <= F.col("total_cents") * 95,
                 "B")
           .otherwise("C"))
    classed = (stats.join(ranked, "l_partkey")
               .select(abc.alias("abc_class"), xyz.alias("xyz_class"),
                       F.col("sx").alias("total_qty")))
    return (classed.groupBy("abc_class", "xyz_class")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum("total_qty").cast("long").alias("total_qty"))
            .orderBy("abc_class", "xyz_class"))


@query(
    "ab_cuped_adjusted_delta",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN (('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                             1, 4))::INTEGER % 2) = 0
                    THEN 'A' ELSE 'B' END AS arm,
               CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                  < TIMESTAMP '2024-01-16 00:00:00'
                             THEN CAST(ROUND(value * 100) AS BIGINT)
                             ELSE 0 END) AS HUGEINT) AS x_cents,
               CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                  >= TIMESTAMP '2024-01-16 00:00:00'
                             THEN CAST(ROUND(value * 100) AS BIGINT)
                             ELSE 0 END) AS HUGEINT) AS y_cents
        FROM events GROUP BY user_id
    ), moments AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x_cents) AS sx, SUM(y_cents) AS sy,
               SUM(x_cents * y_cents) AS sxy,
               SUM(x_cents * x_cents) AS sxx,
               SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS na,
               SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS nb,
               SUM(CASE WHEN arm = 'A' THEN x_cents ELSE 0 END) AS sxa,
               SUM(CASE WHEN arm = 'B' THEN x_cents ELSE 0 END) AS sxb,
               SUM(CASE WHEN arm = 'A' THEN y_cents ELSE 0 END) AS sya,
               SUM(CASE WHEN arm = 'B' THEN y_cents ELSE 0 END) AS syb
        FROM per_user
    ), derived AS (
        SELECT n, na, nb,
               n * sxy - sx * sy AS theta_num,
               n * sxx - sx * sx AS theta_den,
               syb * na - sya * nb AS dy_num,
               sxb * na - sxa * nb AS dx_num,
               na * nb AS nprod
        FROM moments
    ), scaled AS (
        SELECT n, na, nb, theta_den, nprod, dy_num, dx_num,
               CASE WHEN theta_num < 0 THEN -1 ELSE 1 END
                   * (abs(theta_num) * 1000000 // theta_den)
                   AS theta_micros
        FROM derived
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(theta_micros AS BIGINT) AS theta_micros,
           CAST(CASE WHEN dy_num < 0 THEN -1 ELSE 1 END
                * (abs(dy_num) * 100 // nprod) AS BIGINT)
               AS delta_raw_centicents,
           CAST(CASE WHEN dy_num * 1000000 - theta_micros * dx_num < 0
                     THEN -1 ELSE 1 END
                * (abs(dy_num * 1000000 - theta_micros * dx_num) * 100
                   // (nprod * 1000000)) AS BIGINT)
               AS delta_cuped_centicents
    FROM scaled
    """,
)
def ab_cuped_adjusted_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout — the modern
    experimentation estimator (Deng et al. 2013): each user's
    post-period metric Y is adjusted by θ·(X − X̄) where X is their
    PRE-period metric and θ = Cov(X,Y)/Var(X), removing the variance
    that pre-existing behavior explains; the arm delta of the
    adjusted metric is the readout. Same md5 50/50 assignment as the
    arm-metrics and SRM operators; pre/post split at the fixture's mid-range instant
    (2024-01-16 — the mobility operator's precedent; the CDC split
    constant lies past the events horizon and would empty the
    post-period). All moments are exact 128-bit integer lanes; θ and both
    deltas are emitted through the sign-safe floor lane (sign ×
    floor(|num|·scale/den) — Spark `div` truncates while DuckDB `//`
    floors, so negatives go through abs; the ACF fix's two-step
    pattern). θ in micros, deltas in centi-cents per user.
    Lane headroom: products reach ~1e30 at sf0.1 and pass
    DECIMAL(38,0) around sf30 — re-derive with pre-divided moments
    beyond that (documented boundary, the item_cf precedent).

    One user-grain aggregate (conditional pre/post sums ride the
    same pass), one 1-row moment reduce — the whole estimator is two
    shuffles regardless of event volume.
    """
    ev = Catalog(spark, sf_dir).events
    dec = "decimal(38,0)"
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    arm = F.when(
        (F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                16, 10).cast("int") % 2) == 0, "A").otherwise("B")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(F.when(F.col("ts") < split, cents)
                           .otherwise(0)).cast(dec).alias("x_cents"),
                     F.sum(F.when(F.col("ts") >= split, cents)
                           .otherwise(0)).cast(dec).alias("y_cents"))
                .withColumn("arm", arm))
    m = per_user.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x_cents").alias("sx"), F.sum("y_cents").alias("sy"),
        F.sum(F.col("x_cents") * F.col("y_cents")).alias("sxy"),
        F.sum(F.col("x_cents") * F.col("x_cents")).alias("sxx"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast(dec)
        .alias("na"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast(dec)
        .alias("nb"),
        F.sum(F.when(F.col("arm") == "A", F.col("x_cents"))
              .otherwise(0)).alias("sxa"),
        F.sum(F.when(F.col("arm") == "B", F.col("x_cents"))
              .otherwise(0)).alias("sxb"),
        F.sum(F.when(F.col("arm") == "A", F.col("y_cents"))
              .otherwise(0)).alias("sya"),
        F.sum(F.when(F.col("arm") == "B", F.col("y_cents"))
              .otherwise(0)).alias("syb"))
    d = m.select(
        "n", "na", "nb",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .alias("theta_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .alias("theta_den"),
        (F.col("syb") * F.col("na") - F.col("sya") * F.col("nb"))
        .alias("dy_num"),
        (F.col("sxb") * F.col("na") - F.col("sxa") * F.col("nb"))
        .alias("dx_num"),
        (F.col("na") * F.col("nb")).alias("nprod"))
    # Degenerate-input guards (empty_sweep singleton tier): with one
    # user, Var(X) = 0 so theta is undefined, and a single-arm
    # assignment makes na*nb = 0 so the deltas are undefined — NULL
    # like DuckDB's // 0, not an ANSI throw.
    sgn = lambda c: F.when(c < 0, -1).otherwise(1)  # noqa: E731
    theta_micros = (sgn(F.col("theta_num"))
                    * F.expr("CASE WHEN theta_den = 0 THEN NULL ELSE"
                             " abs(theta_num) * 1000000 div theta_den END"))
    s = d.withColumn("theta_micros", theta_micros)
    cuped_num = (F.col("dy_num") * F.lit(1_000_000).cast(dec)
                 - F.col("theta_micros") * F.col("dx_num"))
    return s.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("theta_micros").cast("long").alias("theta_micros"),
        (sgn(F.col("dy_num"))
         * F.expr("CASE WHEN nprod = 0 THEN NULL ELSE"
                  " abs(dy_num) * 100 div nprod END")).cast("long")
        .alias("delta_raw_centicents"),
        (sgn(cuped_num)
         * F.expr("CASE WHEN nprod = 0 THEN NULL ELSE"
                  " abs(dy_num * 1000000 - theta_micros * dx_num) * 100 "
                  "div (nprod * 1000000) END")).cast("long")
        .alias("delta_cuped_centicents"))


@query(
    "grouping_sets_source_quality",
    oracle="""
    SELECT source, lang,
           CAST(GROUPING(source) * 2 + GROUPING(lang) AS INT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), ())
    """,
)
def grouping_sets_source_quality(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Corpus-quality report at three grains in one pass — per
    (source, lang), per source, and the corpus total — via GROUPING
    SETS with GROUPING() discriminators, so a curation dashboard
    reads every rollup level from a single relation without
    re-scanning. Exact integer measures (doc count, total chars).

    Same phantom-row empty-input fix as ``grouping_sets_explicit``
    (the ANSI ``()`` row must exist over an empty relation; Spark
    drops it, DuckDB keeps it): one all-NULL ``__ph = 1`` row unions
    into the source, aggregates are phantom-blind, and phantom-only
    non-() groups are dropped in HAVING. One scan, one
    Expand+Aggregate — the multi-grain shuffle is paid once.
    """
    register_views(spark, sf_dir, ("documents",))
    return spark.sql("""
        WITH src AS (
            SELECT source, lang, n_chars, 0 AS __ph FROM documents
            UNION ALL
            SELECT NULL, NULL, NULL, 1
        )
        SELECT source, lang,
               CAST(grouping(source) * 2 + grouping(lang) AS INT) AS gid,
               CAST(COUNT(CASE WHEN __ph = 0 THEN 1 END) AS BIGINT)
                   AS n_docs,
               CAST(SUM(CASE WHEN __ph = 0 THEN n_chars END) AS BIGINT)
                   AS total_chars
        FROM src
        GROUP BY GROUPING SETS ((source, lang), (source), ())
        HAVING NOT (grouping(source) * 2 + grouping(lang) < 3
                    AND SUM(1 - __ph) = 0)
    """)
