"""Time-series and behavioral analytics over the event stream:
conversion funnels, gap-filled regular series with forward fill, and
retention cohorts. All window/sequence compositions — no UDFs, one
shuffle on the entity key each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..catalog import Catalog
from . import query


#: The daily whole-unit revenue series shared by the trend/ACF/runs/
#: seasonality family — ONE definition of the rounding policy (whole
#: units, not cents: keeps 128-bit moment products in range).
_DAILY_REVENUE_SQL = """daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )"""


#: Hard horizon of the recursive date spine (2^12 days ≈ 11.2 years,
#: well above the fixture's ~2.4k-day order span). The generator's
#: ``WHERE p < cap`` bounds BOTH engines identically, so a wider span
#: would otherwise truncate the calendar SILENTLY — instead both query
#: texts now raise in-query when the observed span reaches the cap
#: (ADVICE r10). Widen here (and only here) to extend the horizon;
#: recursion depth grows as log2(cap).
SPINE_CAP_DAYS = 4096

#: Spark text of the recursive spine (module-level so the overflow
#: guard can be driven directly by tests against a synthetic wide-span
#: ``orders`` view, without the operator's register_views step).
_SPINE_SQL = """
        WITH RECURSIVE gen(i, p) AS (
            SELECT 0, 1
            UNION ALL
            SELECT i + b * p, p * 2
            FROM gen JOIN (SELECT 0 AS b UNION ALL SELECT 1) ON true
            WHERE p < :cap
        ), daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS y
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
        ), bounds AS (
            SELECT MIN(d) AS d0, MAX(d) AS d1,
                   -- no dated order: a NULL span, which nothing caps
                   ASSERT_TRUE(COALESCE(DATEDIFF(MAX(d), MIN(d)), 0) < :cap,
                               'date spine span exceeds cap')
                       AS overflow
            FROM daily
        ), spine AS (
            SELECT DATE_ADD(d0, i) AS day
            FROM gen CROSS JOIN bounds
            WHERE p = :cap AND i <= DATEDIFF(d1, d0)
                  AND overflow IS NULL
        )
        SELECT s.day, CAST(COALESCE(dy.y, 0) AS BIGINT) AS revenue,
               CAST(CASE WHEN dy.d IS NULL THEN 1 ELSE 0 END AS INT)
                   AS is_gap
        FROM spine s LEFT JOIN daily dy ON s.day = dy.d
        """

#: DuckDB twin of the overflow guard + spine, shared by the oracle and
#: the wide-span regression test.
_SPINE_ORACLE_SQL = f"""
    WITH RECURSIVE gen(i, p) AS (
        SELECT 0, 1
        UNION ALL
        SELECT i + b * p, p * 2
        FROM gen, (SELECT 0 AS b UNION ALL SELECT 1) t
        WHERE p < {SPINE_CAP_DAYS}
    ), {_DAILY_REVENUE_SQL}, bounds AS (
        SELECT MIN(d) AS d0, MAX(d) AS d1,
               CASE WHEN date_diff('day', MIN(d), MAX(d))
                         >= {SPINE_CAP_DAYS}
                    THEN error('date spine span exceeds cap')
               END AS overflow
        FROM daily
    ), spine AS (
        SELECT d0 + i AS day
        FROM gen CROSS JOIN bounds
        WHERE p = {SPINE_CAP_DAYS} AND i <= date_diff('day', d0, d1)
              AND overflow IS NULL
    )
    SELECT s.day, CAST(COALESCE(dy.y, 0) AS BIGINT) AS revenue,
           CAST(CASE WHEN dy.d IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
    FROM spine s LEFT JOIN daily dy ON s.day = dy.d
    """


def _daily_revenue(cat: Catalog) -> DataFrame:
    """Spark twin of ``_DAILY_REVENUE_SQL``.

    A calendar series has no "unknown day": undated orders are
    excluded on both engines, otherwise the NULL date forms a series
    point that every ordered walk (lag/delta/ACF/STL) places at
    opposite ends of the two engines' default sort orders
    (null_sweep audit class). Days whose every price is null keep a
    NULL y consistently in both engines (SUM skips nulls)."""
    return (cat.orders
            .filter(F.col("o_orderdate").isNotNull())
            .groupBy(F.col("o_orderdate").cast("date").alias("d"))
            .agg(F.sum(F.round(F.col("o_totalprice")).cast("long"))
                 .alias("y")))


@query(
    "funnel_signup_click_purchase",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_signup,
               min(CASE WHEN event_type = 'click'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_click,
               min(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) FILTER (WHERE t_signup IS NOT NULL) AS BIGINT)
               AS n_signed_up,
           CAST(COUNT(*) FILTER (WHERE t_signup IS NOT NULL
                                 AND t_click > t_signup) AS BIGINT)
               AS n_clicked_after,
           CAST(COUNT(*) FILTER (WHERE t_signup IS NOT NULL
                                 AND t_click > t_signup
                                 AND t_purchase > t_click) AS BIGINT)
               AS n_purchased_after
    FROM firsts
    """,
)
def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users whose first signup precedes
    their first click precedes their first purchase. One conditional-
    min aggregation per user, then three funnel counts — a single
    shuffle regardless of funnel depth (contrast with the naive
    N-way self-join per stage)."""
    ev = Catalog(spark, sf_dir).events
    us = F.unix_micros(F.col("ts"))

    def first_of(kind: str):
        return F.min(F.when(F.col("event_type") == kind, us))

    firsts = ev.groupBy("user_id").agg(
        first_of("signup").alias("t_signup"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"))
    signed = F.col("t_signup").isNotNull()
    clicked = signed & (F.col("t_click") > F.col("t_signup"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.when(signed, 1)).alias("n_signed_up"),
        F.count(F.when(clicked, 1)).alias("n_clicked_after"),
        F.count(F.when(purchased, 1)).alias("n_purchased_after"))


@query(
    "gapfill_daily_forward_fill",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
        FROM events WHERE user_id < 5 GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
    ), grid AS (
        SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
               AS day
        FROM bounds
    )
    SELECT g.user_id, g.day,
           CAST(COALESCE(d.day_cents IS NOT NULL, FALSE) AS INT) AS observed,
           CAST(last_value(d.day_cents IGNORE NULLS) OVER (
                PARTITION BY g.user_id ORDER BY g.day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS filled_cents
    FROM grid g LEFT JOIN daily d USING (user_id, day)
    """,
)
def gapfill_daily_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling: densify each user's sparse daily totals onto a
    complete calendar grid (sequence + explode generates the grid
    distributed — no driver loop), then forward-fill with
    last(..., ignorenulls) over an unbounded-preceding frame.

    The hypertable `time_bucket_gapfill + locf` operation as a pure
    DataFrame plan. Restricted to user_id < 5 to keep the oracle
    comparison small; the plan itself is corpus-wide safe (grid size
    = users × days, generated executor-side)."""
    ev = Catalog(spark, sf_dir).events
    daily = (
        ev.filter(F.col("user_id") < 5)
        .groupBy("user_id",
                 F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("day_cents"))
    )
    bounds = daily.groupBy("user_id").agg(F.min("day").alias("d0"),
                                          F.max("day").alias("d1"))
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("d0", "d1")).alias("day"))
    w = (W.partitionBy("user_id").orderBy("day")
         .rowsBetween(W.unboundedPreceding, 0))
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id", "day",
            F.col("day_cents").isNotNull().cast("int").alias("observed"),
            F.last("day_cents", ignorenulls=True).over(w).alias("filled_cents"))
    )


@query(
    "sql_recursive_date_spine_gapfill",
    oracle=_SPINE_ORACLE_SQL,
)
def sql_recursive_date_spine_gapfill(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """RECURSIVE CTE through the SQL FRONT DOOR — the registry's
    graph/closure operators iterate DataFrame-side (with recursive-CTE
    oracles); this is the first ``WITH RECURSIVE`` executed by Spark
    itself (Spark 4 recursive CTEs, UNION ALL form), proving a
    SQL-only session can run iterative SQL against this engine. The
    payload is the warehouse date-spine densification: generate the
    calendar via a BINARY-DOUBLING recursive generator (each level
    doubles the integer range, so 4096 spine days cost 12 recursion
    levels — not 4096, which would blow Spark's recursion-depth limit
    of 100 and is the same O(log n) shape as the SCC doubling
    closure), clip it to the observed [min, max] day span, and
    zero-fill the revenue series with an ``is_gap`` marker.

    Spark's recursive CTE currently supports only UNION ALL (no
    fixpoint UNION — verified: UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE),
    so cyclic closures stay DataFrame-side; the doubling generator is
    acyclic by construction and each level's cardinality is exact
    (2^k rows at level k), so no duplicate paths exist to dedup. The
    :cap parameter (``SPINE_CAP_DAYS``) bounds the spine; a span at or
    over the cap RAISES in both engines ('date spine span exceeds
    cap', ADVICE r10) instead of silently truncating the calendar.
    Scale-out is by widening the cap — depth grows logarithmically.
    """
    from ..catalog import register_views
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_SPINE_SQL, args={"cap": SPINE_CAP_DAYS})


@query(
    "retention_weekly_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS DATE)
                   AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS active_week
        FROM events
    )
    SELECT cohort_week,
           CAST(date_diff('week', cohort_week, active_week) AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM firsts JOIN activity USING (user_id)
    GROUP BY cohort_week, week_offset
    """,
)
def retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week,
    counted per weekly activity offset. Two aggregations + one join
    on user_id."""
    ev = Catalog(spark, sf_dir).events
    week = lambda c: F.date_trunc("week", c).cast("date")  # noqa: E731
    firsts = (ev.groupBy("user_id")
              .agg(week(F.min("ts")).alias("cohort_week")))
    activity = (ev.select("user_id", week(F.col("ts")).alias("active_week"))
                .distinct())
    return (
        firsts.join(activity, "user_id")
        .groupBy("cohort_week",
                 (F.datediff("active_week", "cohort_week") / 7)
                 .cast("int").alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "profile_documents_table",
    oracle="""
    SELECT 'doc_id' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(doc_id) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_value,
           CAST(max(doc_id) AS VARCHAR) AS max_value
    FROM documents
    UNION ALL
    SELECT 'lang', CAST(COUNT(*) AS BIGINT), CAST(COUNT(lang) AS BIGINT),
           CAST(COUNT(DISTINCT lang) AS BIGINT),
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'source', CAST(COUNT(*) AS BIGINT), CAST(COUNT(source) AS BIGINT),
           CAST(COUNT(DISTINCT source) AS BIGINT),
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'n_chars', CAST(COUNT(*) AS BIGINT), CAST(COUNT(n_chars) AS BIGINT),
           CAST(COUNT(DISTINCT n_chars) AS BIGINT),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM documents
    """,
)
def profile_documents_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: per-column row/null/distinct counts
    and min/max, built programmatically from the schema (here over 4
    columns of documents) — in ONE scan: all columns' aggregates in a
    single agg (Catalyst turns the multiple COUNT(DISTINCT)s into one
    Expand, still one pass over the table), then the one-row result
    explodes into a row per column. The union-of-four-aggs version
    scanned the table once per column — 4x the dominant I/O at 100 TB.
    At scale swap COUNT(DISTINCT) for approx_count_distinct to drop
    the Expand too."""
    d = Catalog(spark, sf_dir).documents
    cols = ("doc_id", "lang", "source", "n_chars")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.count(c).alias(f"{c}__nn"),
                 F.countDistinct(c).alias(f"{c}__nd"),
                 F.min(c).cast("string").alias(f"{c}__mn"),
                 F.max(c).cast("string").alias(f"{c}__mx")]
    one = d.agg(*aggs)
    per_col = F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.col("n_rows"),
                 F.col(f"{c}__nn").alias("n_nonnull"),
                 F.col(f"{c}__nd").alias("n_distinct"),
                 F.col(f"{c}__mn").alias("min_value"),
                 F.col(f"{c}__mx").alias("max_value"))
        for c in cols])
    return (one.select(F.explode(per_col).alias("p"))
            .select("p.column_name", "p.n_rows", "p.n_nonnull",
                    "p.n_distinct", "p.min_value", "p.max_value"))


@query(
    "events_hourly_anomaly",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), trail AS (
        SELECT event_type, hour_start, n,
               CAST(COUNT(*) OVER w AS BIGINT) AS tn,
               CAST(COALESCE(SUM(n) OVER w, 0) AS BIGINT) AS s,
               CAST(COALESCE(SUM(n * n) OVER w, 0) AS BIGINT) AS ss
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour_start, n, tn,
           CASE WHEN tn > 0
                THEN CAST(s AS DOUBLE) / tn END AS trailing_mean,
           (tn >= 12 AND
            (n * tn - s) * (n * tn - s) * (tn - 1)
              > 9 * tn * (tn * ss - s * s)) AS is_spike
    FROM trail
    """,
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly flags on hourly event counts: an hour
    is a spike when its count sits more than 3 trailing standard
    deviations from the trailing 24-hour mean (warm-up: no flag until
    12 trailing hours exist).

    The 3σ test is evaluated as a PURE INTEGER inequality —
    (n·tn − S)²·(tn−1) > 9·tn·(tn·ΣX² − S²) is the square of the
    z-score condition cleared of divisions — so the flag is
    bit-deterministic across engines (no sqrt, no division, no float
    accumulation; the reported mean is the only double and divides
    two exact integers). One aggregation plus one per-type ordered
    window; hours per type is bounded (time, not corpus), so the
    window partitions stay small forever.
    """
    ev = Catalog(spark, sf_dir).events
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hour_start"))
              .agg(F.count(F.lit(1)).alias("n")))
    w = (W.partitionBy("event_type").orderBy("hour_start")
         .rowsBetween(-24, -1))
    trail = hourly.select(
        "event_type", "hour_start", "n",
        F.count(F.lit(1)).over(w).alias("tn"),
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("s"),
        F.coalesce(F.sum(F.col("n") * F.col("n")).over(w), F.lit(0)).alias("ss"),
    )
    dev = F.col("n") * F.col("tn") - F.col("s")
    var_num = F.col("tn") * F.col("ss") - F.col("s") * F.col("s")
    return trail.select(
        "event_type", "hour_start", "n", "tn",
        F.when(F.col("tn") > 0,
               F.col("s").cast("double") / F.col("tn")).alias("trailing_mean"),
        ((F.col("tn") >= 12)
         & (dev * dev * (F.col("tn") - 1) > 9 * F.col("tn") * var_num))
        .alias("is_spike"),
    )


@query(
    "cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        FROM events GROUP BY user_id
    ), daily AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new_users
        FROM first_seen GROUP BY day
    )
    SELECT day, n_new_users,
           CAST(SUM(n_new_users) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_users
    FROM daily
    """,
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of distinct users ever seen, per day — computed
    as min-first-seen + cumulative sum, NOT a distinct-over-expanding-
    window (which holds O(users) state per frame and is quadratic in
    practice). The first-seen trick turns "running distinct" into one
    per-user aggregation plus a cumulative sum over days: the standard
    growth-accounting query, scale-safe because the heavy shuffle is
    on user_id once. Days with no new users don't appear (compose
    with ``gapfill_daily_forward_fill`` for a dense series).
    """
    ev = Catalog(spark, sf_dir).events
    first_seen = (ev.groupBy("user_id")
                  .agg(F.min(F.to_date("ts")).alias("day")))
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_new_users"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        "day", "n_new_users",
        F.sum("n_new_users").over(w).alias("cum_users"))


@query(
    "events_ohlc_hourly",
    oracle="""
    WITH b AS (
        SELECT user_id,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar_hour,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id,
                                date_trunc('hour', CAST(ts AS TIMESTAMP))
                   ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id,
                                date_trunc('hour', CAST(ts AS TIMESTAMP))
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT user_id, bar_hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(CASE WHEN rn_a = 1 THEN cents END) AS DOUBLE) / 100.0
               AS open_value,
           CAST(MAX(cents) AS DOUBLE) / 100.0 AS high_value,
           CAST(MIN(cents) AS DOUBLE) / 100.0 AS low_value,
           CAST(MAX(CASE WHEN rn_d = 1 THEN cents END) AS DOUBLE) / 100.0
               AS close_value,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value
    FROM b GROUP BY user_id, bar_hour
    """,
)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per user — the downsampling shape every
    time-series store exposes (candlesticks, sensor rollups): open =
    first value in the bar, close = last, high/low = extremes, plus
    volume. First/last are defined by (ts, event_id) — event_id is
    unique, so bar edges are deterministic even under same-timestamp
    ties (a bare min_by/arg_min would tie-break arbitrarily and
    hash-mismatch the oracle).

    One exchange total: both row_number windows share the (user_id,
    bar_hour) partitioning — the second is an extra in-partition sort,
    not a shuffle — and the final aggregate reuses the same hash
    partitioning, so Catalyst plans exchange-sort-window-sort-window-
    agg in a single stage pipeline. Money stays in exact cents until
    the final division (engine money policy).
    """
    from ..functions.exact import cents
    ev = Catalog(spark, sf_dir).events
    base = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("bar_hour"),
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        cents(F.col("value")).alias("cents"),
    )
    wa = W.partitionBy("user_id", "bar_hour").orderBy("us", "event_id")
    wd = W.partitionBy("user_id", "bar_hour").orderBy(
        F.desc("us"), F.desc("event_id"))
    b = (base.withColumn("rn_a", F.row_number().over(wa))
         .withColumn("rn_d", F.row_number().over(wd)))
    dollars = lambda c: (c.cast("double") / 100.0)  # noqa: E731
    return b.groupBy("user_id", "bar_hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        dollars(F.max(F.when(F.col("rn_a") == 1, F.col("cents"))))
        .alias("open_value"),
        dollars(F.max("cents")).alias("high_value"),
        dollars(F.min("cents")).alias("low_value"),
        dollars(F.max(F.when(F.col("rn_d") == 1, F.col("cents"))))
        .alias("close_value"),
        dollars(F.sum("cents")).alias("total_value"),
    )


@query(
    "event_type_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), pairs AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from,
           CAST(n AS DOUBLE)
               / SUM(n) OVER (PARTITION BY prev_type) AS p_transition
    FROM pairs
    """,
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (prev_type -> next_type) pair, the count and
    conditional probability — the behavioral model behind journey
    analysis and anomaly detection (a transition that suddenly gains
    mass is a product change or a bot). Sequence order is (ts,
    event_id) — deterministic under timestamp ties.

    Two exchanges: user_id for the lag window, then the pair
    aggregate — whose output is at most |types|² rows, so the final
    per-row probability window runs on a table the size of the type
    vocabulary squared, regardless of corpus. Probability divides
    exact integers.
    """
    ev = Catalog(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    seq = ev.select("user_id", "event_type",
                    F.lag("event_type").over(w).alias("prev_type"))
    pairs = (seq.filter(F.col("prev_type").isNotNull())
             .groupBy("prev_type", F.col("event_type").alias("next_type"))
             .agg(F.count(F.lit(1)).alias("n")))
    wf = W.partitionBy("prev_type")
    return pairs.select(
        "prev_type", "next_type", "n",
        F.sum("n").over(wf).alias("n_from"),
        (F.col("n").cast("double") / F.sum("n").over(wf)).alias("p_transition"))


@query(
    "open_lines_daily",
    oracle="""
    WITH li AS (
        SELECT o_orderdate, l_shipdate
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate IS NOT NULL
    ), deltas AS (
        SELECT o_orderdate AS d,
               CAST(COUNT(*) AS BIGINT) AS n_ordered,
               CAST(0 AS BIGINT) AS n_shipped
        FROM li GROUP BY o_orderdate
        UNION ALL
        SELECT l_shipdate AS d,
               CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT)
        FROM li WHERE l_shipdate IS NOT NULL GROUP BY l_shipdate
    ), daily AS (
        SELECT d, CAST(SUM(n_ordered) AS BIGINT) AS n_ordered,
               CAST(SUM(n_shipped) AS BIGINT) AS n_shipped
        FROM deltas GROUP BY d
    )
    SELECT d, n_ordered, n_shipped,
           CAST(SUM(n_ordered - n_shipped)
                OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_open
    FROM daily
    """,
)
def open_lines_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting by sweep line: how many order
    lines are open (ordered, not yet shipped) on each calendar day.
    The classic interval-overlap shape — solved with +1/-1 boundary
    events and a running sum, never by joining every interval to
    every day it spans (which explodes by average interval length).

    Scale: each interval contributes to exactly two per-day partial
    counts (map-side combined), so the sweep input is one row per
    DISTINCT date — a few thousand rows for any corpus size — and
    only that tiny series goes through the ordered cumulative window.
    The global ordering is safe because cardinality is calendar-
    bounded, the one case where a partition-less window is the right
    call (same argument as gapfill's date spine). The interval start
    rides a broadcast-joined orders date onto each line.

    Null semantics (null_sweep audit): an interval with an unknown
    START cannot enter a time sweep — lines whose order date is null
    are excluded on both engines. A null SHIP date means "not yet
    shipped": the line opens normally and simply never closes, so it
    stays in n_open forever — the sweep-line reading of a missing
    end bound, identical on both engines by construction.
    """
    cat = Catalog(spark, sf_dir)
    li = (cat.lineitem.select("l_orderkey", "l_shipdate")
          .join(cat.orders.select("o_orderkey", "o_orderdate"),
                F.col("l_orderkey") == F.col("o_orderkey"))
          .filter(F.col("o_orderdate").isNotNull()))
    opens = li.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_ordered"))
    ships = (li.filter(F.col("l_shipdate").isNotNull())
             .groupBy(F.col("l_shipdate").alias("d")).agg(
                 F.count(F.lit(1)).alias("n_shipped")))
    daily = (opens.join(ships, "d", "full")
             .select("d",
                     F.coalesce("n_ordered", F.lit(0)).alias("n_ordered"),
                     F.coalesce("n_shipped", F.lit(0)).alias("n_shipped")))
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        "d", "n_ordered", "n_shipped",
        F.sum(F.col("n_ordered") - F.col("n_shipped")).over(w)
        .alias("n_open"))


@query(
    "rolling_7d_distinct_users",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), contrib AS (
        SELECT DISTINCT user_id,
               CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                                           CAST(d AS TIMESTAMP)
                                               + INTERVAL 6 DAY,
                                           INTERVAL 1 DAY)) AS DATE)
                   AS window_day
        FROM days
    )
    SELECT window_day,
           CAST(COUNT(*) AS BIGINT) AS n_active_users_7d
    FROM contrib
    WHERE window_day <= (SELECT max(CAST(ts AS DATE)) FROM events)
    GROUP BY window_day
    """,
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day — the DAU/WAU
    family's hard member, because COUNT(DISTINCT) does not compose
    over sliding windows (a window aggregate can't dedup across rows).

    The distributed shape: dedup to (user, active_day) first, explode
    each active day into the ≤7 window-days it influences, dedup
    (user, window_day), count per day. Work is bounded by
    7 × |distinct (user, day)| regardless of raw event volume — the
    event table is touched once and reduced BEFORE the fan-out, so a
    100 TB click log collapses to user×day rows before anything
    multiplies. Both distincts and the final count are one shuffle
    each on bounded keys; no global window, no per-day self-join
    (the naive range-join formulation rescans the events table per
    day).
    """
    ev = Catalog(spark, sf_dir).events
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    max_day = ev.agg(F.max(F.col("ts").cast("date")).alias("mx"))
    contrib = (days.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
        .alias("window_day"))
        .distinct())
    return (contrib
            .crossJoin(F.broadcast(max_day))
            .filter(F.col("window_day") <= F.col("mx"))
            .groupBy("window_day")
            .agg(F.count(F.lit(1)).alias("n_active_users_7d")))


@query(
    "attribution_last_touch",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, value,
               CAST(ts AS TIMESTAMP) AS ts, event_id,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER w AS touch_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
                   OVER w AS touch_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT COALESCE(CASE WHEN touch_ts >= ts - INTERVAL 7 DAY
                         THEN touch_type END, 'none') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / 100.0 AS attributed_value
    FROM ordered
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase's value is
    credited to the most recent non-purchase event by the same user
    within a 7-day lookback ('none' when no touch qualifies), then
    rolled up per touch type.

    One window pass per user (ordered by ts with event_id as the
    determinism tie-break): `last(..., ignorenulls)` over the
    rows-preceding frame carries the latest touch's type and
    timestamp forward — the two columns null on exactly the same
    rows, so they always describe the same touch row. The 7-day
    cutoff is applied after the carry, which is what makes this a
    window pass instead of a per-purchase range join (the naive
    formulation joins every purchase to the user's whole history).
    Money via the exact-cents policy. Scale: one shuffle on user_id;
    per-user state in the frame is O(1) — Spark keeps only the last
    non-null, not the preceding rows.
    """
    from ..functions.exact import cents
    ev = Catalog(spark, sf_dir).events
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    not_purchase = F.col("event_type") != "purchase"
    touched = ev.select(
        "user_id", "event_type", "value", "ts",
        F.last(F.when(not_purchase, F.col("event_type")),
               ignorenulls=True).over(w).alias("touch_type"),
        F.last(F.when(not_purchase, F.col("ts")),
               ignorenulls=True).over(w).alias("touch_ts"))
    in_window = (F.col("touch_ts")
                 >= F.col("ts") - F.expr("INTERVAL 7 DAY"))
    return (touched.filter(F.col("event_type") == "purchase")
            .select(F.coalesce(F.when(in_window, F.col("touch_type")),
                               F.lit("none")).alias("touch_type"),
                    "value")
            .groupBy("touch_type")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 (F.sum(cents(F.col("value"))).cast("double") / 100.0)
                 .alias("attributed_value")))


@query(
    "trend_daily_revenue_ols",
    oracle=f"""
    WITH {_DAILY_REVENUE_SQL}, mn AS (
        SELECT min(d) AS d0 FROM daily
    ), xy AS (
        SELECT CAST(date_diff('day', d0, d) AS BIGINT) AS x, y
        FROM daily CROSS JOIN mn
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        FROM xy
    )
    , w AS (
        SELECT n,
               CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
                   - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num,
               CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
                   - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS den_x,
               CAST(n AS HUGEINT) * CAST(syy AS HUGEINT)
                   - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS den_y,
               sx, sy
        FROM s
    )
    SELECT n AS n_days,
           CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE) AS slope_per_day,
           (CAST(sy AS DOUBLE)
            - CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE) * sx)
               / n AS intercept,
           CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
               / CAST(den_x AS DOUBLE) / CAST(den_y AS DOUBLE) AS r_squared
    FROM w
    """,
)
def trend_daily_revenue_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares trend of daily order revenue — slope,
    intercept, R² — computed EXACTLY: x is days since the first order
    date (recentring keeps the moment products small), y is whole-
    dollar daily revenue, and all five moments (Σx, Σy, Σxy, Σx²,
    Σy²) are integer sums, so the distributed aggregation is order-
    independent and the only float ops are the closed-form divisions
    at the end. The built-in regr_slope would partial-aggregate
    doubles in nondeterministic order — this formulation is the
    engine's answer for bit-reproducible regression.

    Scale: one groupBy(date) over orders (map-side combined to one
    row per date per task), a 1-row broadcast of the min date, a
    single-row moment aggregate. The closed-form products n·Σy² etc.
    exceed 2⁶³ already at sf0.1, so they run in 128-bit exact integer
    lanes — DECIMAL(38,0) here, HUGEINT in the oracle; both engines
    then round the exact integer to the nearest double once. Caveat
    discovered by the sf0.1 assurance sweep (via the ACF sibling):
    the two engines' int128→double conversions can differ by one ulp
    once the moment products exceed 2^53 substantially — green at the
    driver's sf0.01 gate and at sf0.1 for THESE values, but a
    production variant emitting slope at sf1+ should switch to the
    ACF's exact (sign, squared-micros) form.
    """
    daily = _daily_revenue(Catalog(spark, sf_dir))
    mn = daily.agg(F.min("d").alias("d0"))
    xy = (daily.crossJoin(F.broadcast(mn))
          .select(F.datediff(F.col("d"), F.col("d0")).cast("long").alias("x"),
                  "y"))
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    s = xy.agg(F.count(F.lit(1)).alias("n"),
               F.sum("x").alias("sx"), F.sum("y").alias("sy"),
               F.sum(xd * yd).alias("sxy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx"),
               F.sum(yd * yd).alias("syy"))
    def wide(name: str):
        return F.col(name).cast("decimal(38,0)")

    num = (wide("n") * wide("sxy") - wide("sx") * wide("sy"))
    den_x = (wide("n") * wide("sxx") - wide("sx") * wide("sx"))
    den_y = (wide("n") * wide("syy") - wide("sy") * wide("sy"))
    # try_divide: a single observed day has zero x-variance — slope,
    # intercept, and R² are undefined (NULL on both engines, DuckDB's
    # x/0), not an ANSI throw (empty_sweep singleton tier).
    slope = F.try_divide(num.cast("double"), den_x.cast("double"))
    return s.select(
        F.col("n").alias("n_days"),
        slope.alias("slope_per_day"),
        ((F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n"))
        .alias("intercept"),
        F.try_divide(
            F.try_divide(num.cast("double") * num.cast("double"),
                         den_x.cast("double")),
            den_y.cast("double")).alias("r_squared"))


@query(
    "rfm_segment_counts",
    oracle="""
    WITH p AS (
        SELECT user_id,
               max(CAST(ts AS TIMESTAMP)) AS last_ts,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
        GROUP BY user_id
    ), mx AS (
        SELECT max(last_ts) AS t1 FROM p
    ), scored AS (
        SELECT user_id, monetary_cents,
               ntile(5) OVER (ORDER BY date_diff('day', last_ts, t1),
                              user_id) AS r,
               ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
               ntile(5) OVER (ORDER BY monetary_cents DESC, user_id) AS m
        FROM p CROSS JOIN mx
    )
    SELECT r, f, m,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(CAST(SUM(monetary_cents) AS BIGINT) AS DOUBLE) / 100.0
               AS total_value
    FROM scored GROUP BY r, f, m
    """,
)
def rfm_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every purchasing user scored 1–5 on recency,
    frequency, and monetary value via ntile quintiles (deterministic:
    every ordering carries user_id as the tie-break, and both engines
    define ntile identically — front-loaded equal buckets), then the
    125-cell segment grid with user counts and exact-cents value.

    Scale: one purchase aggregate per user (map-side combined), a
    1-row broadcast of the corpus max timestamp, then three global
    ntile windows. Global windows on the USER table (not events) —
    that's |users| rows through three single-partition sorts, the one
    genuinely serial step; at 10⁹ users swap ntile for a rank
    computed against broadcast quantile cutpoints from the KLL
    sketch family (same 1–5 scores, no global sort). The segment
    rollup is a bounded 125-key aggregate. RFM scores an identified
    customer — anonymous purchases (null user_id) are excluded on
    both engines (left in, the NULL pseudo-user's ntile tiebreak
    lands at opposite ends of the two engines' default orders).
    """
    ev = Catalog(spark, sf_dir).events
    p = (ev.filter((F.col("event_type") == "purchase")
                   & F.col("user_id").isNotNull())
         .groupBy("user_id")
         .agg(F.max("ts").alias("last_ts"),
              F.count(F.lit(1)).alias("freq"),
              F.sum(F.round(F.col("value") * 100).cast("long"))
              .alias("monetary_cents")))
    mx = p.agg(F.max("last_ts").alias("t1"))
    scored = (p.crossJoin(F.broadcast(mx))
              .select(
                  "user_id", "monetary_cents",
                  F.ntile(5).over(
                      W.orderBy(F.datediff(F.col("t1"), F.col("last_ts")),
                                "user_id")).alias("r"),
                  F.ntile(5).over(
                      W.orderBy(F.col("freq").desc(), "user_id")).alias("f"),
                  F.ntile(5).over(
                      W.orderBy(F.col("monetary_cents").desc(), "user_id"))
                  .alias("m")))
    return (scored.groupBy("r", "f", "m")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 (F.sum("monetary_cents").cast("double") / 100.0)
                 .alias("total_value")))


@query(
    "conversion_latency_quantiles",
    oracle="""
    WITH carried AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER w AS touch_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
                   OVER w AS touch_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), lat AS (
        SELECT touch_type,
               epoch_us(ts) - epoch_us(touch_ts) AS us,
               ROW_NUMBER() OVER (PARTITION BY touch_type
                                  ORDER BY epoch_us(ts) - epoch_us(touch_ts),
                                           user_id, ts) AS rn,
               COUNT(*) OVER (PARTITION BY touch_type) AS n
        FROM carried
        WHERE event_type = 'purchase' AND touch_type IS NOT NULL
    )
    SELECT touch_type, CAST(max(n) AS BIGINT) AS n_conversions,
           CAST(min(CASE WHEN rn = CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1
                         THEN us END) AS DOUBLE) / 1000000.0 AS p50_seconds,
           CAST(min(CASE WHEN rn = CAST(FLOOR(0.9 * (n - 1)) AS BIGINT) + 1
                         THEN us END) AS DOUBLE) / 1000000.0 AS p90_seconds,
           CAST(min(CASE WHEN rn = CAST(FLOOR(0.99 * (n - 1)) AS BIGINT) + 1
                         THEN us END) AS DOUBLE) / 1000000.0 AS p99_seconds,
           CAST(max(us) AS DOUBLE) / 1000000.0 AS max_seconds
    FROM lat GROUP BY touch_type
    """,
)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every purchase preceded by a
    touch event, the latency from the most recent touch, quantiled
    per touch type (p50/p90/p99 NEAREST-RANK over exact integer
    microseconds — the winsorize rule: ranked picks, never
    interpolation, so order statistics reproduce bit-for-bit).

    Two window passes, both key-partitioned: the per-user carry
    (same one-pass shape as attribution_last_touch) and the per-
    touch-type rank; the quantile extraction is a conditional min at
    three precomputed rank positions inside an ordinary aggregate —
    no second sort, no percentile UDAF. Latencies are microsecond
    BIGINTs end-to-end; seconds emerge from one trailing division.
    """
    ev = Catalog(spark, sf_dir).events
    wc = (W.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, -1))
    not_p = F.col("event_type") != "purchase"
    carried = ev.select(
        "user_id", "event_type", "ts",
        F.last(F.when(not_p, F.col("event_type")), ignorenulls=True)
        .over(wc).alias("touch_type"),
        F.last(F.when(not_p, F.col("ts")), ignorenulls=True)
        .over(wc).alias("touch_ts"))
    us = (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("touch_ts")))
    lat = (carried.filter((F.col("event_type") == "purchase")
                          & F.col("touch_type").isNotNull())
           .select("touch_type", "user_id", "ts", us.alias("us")))
    wt = W.partitionBy("touch_type")
    ranked = lat.select(
        "touch_type", "us",
        F.row_number().over(wt.orderBy("us", "user_id", "ts")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"))
    k = lambda p: F.floor(F.lit(p) * (F.col("n") - 1)).cast("long") + 1

    def pick(p):
        return (F.min(F.when(F.col("rn") == k(p), F.col("us")))
                .cast("double") / 1e6)

    return (ranked.groupBy("touch_type")
            .agg(F.max("n").alias("n_conversions"),
                 pick(0.5).alias("p50_seconds"),
                 pick(0.9).alias("p90_seconds"),
                 pick(0.99).alias("p99_seconds"),
                 (F.max("us").cast("double") / 1e6).alias("max_seconds")))


@query(
    "decayed_user_value",
    oracle="""
    WITH ref AS (
        SELECT CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS maxd FROM events
    ), w AS (
        SELECT user_id,
               (CAST(ROUND(value * 100) AS BIGINT) * 1048576)
               // CAST(power(2e0, date_diff('day',
                          CAST(CAST(ts AS TIMESTAMP) AS DATE),
                          ref.maxd) // 7) AS BIGINT) AS micro
        FROM events, ref
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(micro) AS BIGINT) AS DOUBLE) / 104857600e0
               AS decayed_value
    FROM w GROUP BY user_id
    """,
)
def decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted user value: every event's value decays by
    half per 7 days of age relative to the newest event in the corpus
    — the classic time-decay feature for ranking/churn models.

    Exactness: the decay weight is 2^(-age_weeks) — a power of two —
    applied in INTEGER arithmetic: cents are scaled by 2^20, integer-
    divided by 2^age_weeks, and summed as bigints, so the aggregate
    is order-independent and bit-identical to the oracle (a float
    pow/multiply path would round differently per summation order).
    One scalar subquery for the reference date (broadcast), one
    hash aggregate by user — no window, no sort.
    """
    from ..functions.exact import cents as cents_
    ev = Catalog(spark, sf_dir).events
    ref = ev.agg(F.max(F.col("ts").cast("date")).alias("maxd"))
    age_weeks = F.expr("datediff(maxd, cast(ts as date)) div 7")
    micro = F.expr(
        "(cents * 1048576L) div cast(power(2.0D, age_weeks) as bigint)")
    return (ev.crossJoin(F.broadcast(ref))
            .select("user_id", cents_(F.col("value")).alias("cents"),
                    age_weeks.alias("age_weeks"))
            .select("user_id", micro.alias("micro"))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum("micro").cast("double") / 104857600e0)
                 .alias("decayed_value")))


@query(
    "event_path_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE event_type IS NOT NULL
      AND e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 20
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: the 20 most frequent 3-step event-type paths
    across per-user timelines (the sequential-pattern counterpart of
    the first-order ``event_type_transitions`` matrix). One window
    pass per user (two leads share the partition/order), a hash
    aggregate keyed by the |types|^3-bounded path string, and a
    TakeOrdered top-20 — never a global sort.

    Null semantics (null_sweep audit): a trigram requires three
    OBSERVED steps, so windows containing a null event_type are
    dropped on both engines — without the explicit three-way filter,
    Spark's null-skipping concat_ws silently collapses ``a>NULL>c``
    into the bigram ``a>c`` while the oracle's ``||`` nulls the whole
    path. Null-typed rows still occupy sequence positions (the lead
    offsets hop over them identically in both engines).
    """
    ev = Catalog(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"))
    return (seq.filter(F.col("event_type").isNotNull()
                       & F.col("e2").isNotNull()
                       & F.col("e3").isNotNull())
            .select(F.concat_ws(">", "event_type", "e2", "e3").alias("path"))
            .groupBy("path").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "path").limit(20))


@query(
    "gapfill_daily_interpolate",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS day_cents
        FROM events WHERE user_id < 5 GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, min(day) AS d0, max(day) AS d1
        FROM daily GROUP BY user_id
    ), grid AS (
        SELECT user_id,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS day
        FROM bounds
    ), marked AS (
        SELECT g.user_id, g.day, d.day_cents,
               last_value(d.day_cents IGNORE NULLS) OVER wp AS prev_cents,
               last_value(CASE WHEN d.day_cents IS NOT NULL THEN g.day END
                          IGNORE NULLS) OVER wp AS prev_day,
               first_value(d.day_cents IGNORE NULLS) OVER wf AS next_cents,
               first_value(CASE WHEN d.day_cents IS NOT NULL THEN g.day END
                           IGNORE NULLS) OVER wf AS next_day
        FROM grid g LEFT JOIN daily d USING (user_id, day)
        WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.day
                      ROWS UNBOUNDED PRECEDING),
               wf AS (PARTITION BY g.user_id ORDER BY g.day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day,
           CAST(day_cents IS NOT NULL AS INT) AS observed,
           CASE
             WHEN day_cents IS NOT NULL THEN CAST(day_cents AS DOUBLE) / 100e0
             WHEN prev_cents IS NOT NULL AND next_cents IS NOT NULL THEN
               (CAST(prev_cents AS DOUBLE)
                + CAST((next_cents - prev_cents)
                       * date_diff('day', prev_day, day) AS DOUBLE)
                  / date_diff('day', prev_day, next_day)) / 100e0
             ELSE CAST(COALESCE(prev_cents, next_cents) AS DOUBLE) / 100e0
           END AS filled_value
    FROM marked
    """,
)
def gapfill_daily_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling with LINEAR INTERPOLATION — the hypertable
    `interpolate()` next to ``gapfill_daily_forward_fill``'s locf:
    missing days take the line between the nearest observed values on
    either side (edge gaps fall back to the single available
    neighbor).

    Both carries run in the same two window passes (backward
    last/ignorenulls, forward first/ignorenulls) over the densified
    calendar grid — same partitioning, one exchange, Catalyst chains
    the frames. Determinism: the interpolation is rational — integer
    cents, integer day offsets, one double division in a fixed spot —
    so the value reproduces bit-for-bit; no float accumulates across
    rows.
    """
    ev = Catalog(spark, sf_dir).events
    daily = (
        ev.filter(F.col("user_id") < 5)
        .groupBy("user_id",
                 F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long"))
             .alias("day_cents")))
    bounds = daily.groupBy("user_id").agg(F.min("day").alias("d0"),
                                          F.max("day").alias("d1"))
    grid = bounds.select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    wp = (W.partitionBy("user_id").orderBy("day")
          .rowsBetween(W.unboundedPreceding, 0))
    wf = (W.partitionBy("user_id").orderBy("day")
          .rowsBetween(0, W.unboundedFollowing))
    obs_day = F.when(F.col("day_cents").isNotNull(), F.col("day"))
    marked = (grid.join(daily, ["user_id", "day"], "left")
              .select("user_id", "day", "day_cents",
                      F.last("day_cents", ignorenulls=True).over(wp)
                      .alias("prev_cents"),
                      F.last(obs_day, ignorenulls=True).over(wp)
                      .alias("prev_day"),
                      F.first("day_cents", ignorenulls=True).over(wf)
                      .alias("next_cents"),
                      F.first(obs_day, ignorenulls=True).over(wf)
                      .alias("next_day")))
    interp = (F.col("prev_cents").cast("double")
              + ((F.col("next_cents") - F.col("prev_cents"))
                 * F.datediff("day", "prev_day")).cast("double")
              / F.datediff("next_day", "prev_day"))
    filled = (F.when(F.col("day_cents").isNotNull(),
                     F.col("day_cents").cast("double"))
              .when(F.col("prev_cents").isNotNull()
                    & F.col("next_cents").isNotNull(), interp)
              .otherwise(F.coalesce("prev_cents", "next_cents")
                         .cast("double")) / F.lit(100.0))
    return marked.select(
        "user_id", "day",
        F.col("day_cents").isNotNull().cast("int").alias("observed"),
        filled.alias("filled_value"))


@query(
    "watermark_lateness_audit",
    oracle="""
    WITH arr AS (
        SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)),
                                         1, 4))::INTEGER % 3600 AS BIGINT)
                 * 1000000 AS arrival_us
        FROM events
    ), hw AS (
        SELECT ts_us,
               MAX(ts_us) OVER (
                   PARTITION BY event_id % 8 ORDER BY arrival_us, event_id
                   ROWS UNBOUNDED PRECEDING) AS max_seen_us
        FROM arr
    ), lat AS (
        SELECT max_seen_us - ts_us AS late_us FROM hw
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (late_us > 0) AS BIGINT) AS n_out_of_order,
           CAST(COUNT(*) FILTER (late_us > 1800000000) AS BIGINT)
               AS dropped_at_30m,
           CAST(COUNT(*) FILTER (late_us > 3600000000) AS BIGINT)
               AS dropped_at_1h,
           CAST(COUNT(*) FILTER (late_us > 7200000000) AS BIGINT)
               AS dropped_at_2h,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us
    FROM lat
    """,
)
def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-ops question answered from batch data: if this
    table replayed as a stream in arrival order (event_id), how late
    does event time run behind the high-water mark, and how many rows
    would each candidate watermark setting (30m/1h/2h) DROP? This is
    how the 2h watermark used by the streaming twins was chosen —
    the audit pins the policy to data instead of folklore.

    Lateness is event-time behind the RUNNING MAX over ARRIVAL order
    within the event's source partition. The testdata ships neither
    an arrival timestamp nor a partition column, so both are
    simulated deterministically: arrival = event time + an
    md5-derived uniform delay in [0, 1h) (the training module's
    engine-independent hash idiom), partition = event_id % 8.
    Arrival order only exists per source partition at scale, and a
    real watermark tracks exactly these per-partition high-water
    marks (taking their min at batch boundaries) — so the cumulative
    window is keyed, never a single-partition global sort. The audit
    output is one fused aggregate over exact integer microseconds.
    """
    ev = Catalog(spark, sf_dir).events
    hex4 = F.substring(F.md5(F.col("event_id").cast("string")), 1, 4)
    delay_us = ((F.conv(hex4, 16, 10).cast("int") % 3600).cast("long")
                * 1_000_000)
    arr = ev.select(
        "event_id", F.unix_micros("ts").alias("ts_us"),
        (F.unix_micros("ts") + delay_us).alias("arrival_us"))
    w = (W.partitionBy(F.expr("event_id % 8"))
         .orderBy("arrival_us", "event_id")
         .rowsBetween(W.unboundedPreceding, 0))
    late = (arr.select("ts_us", F.max("ts_us").over(w).alias("max_seen_us"))
            .select((F.col("max_seen_us") - F.col("ts_us")).alias("late_us")))

    # coalesce: these sums are COUNTS of late rows, and a count over
    # an empty replay is 0, not NULL (SUM's empty-input value — the
    # empty_sweep class; DuckDB's COUNT(*) FILTER is 0). max_late_us
    # stays NULL-on-empty on both engines.
    def dropped(us: int, name: str):
        return F.coalesce(F.sum((F.col("late_us") > us).cast("long")),
                          F.lit(0)).alias(name)

    return late.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(F.sum((F.col("late_us") > 0).cast("long")),
                   F.lit(0)).alias("n_out_of_order"),
        dropped(1_800_000_000, "dropped_at_30m"),
        dropped(3_600_000_000, "dropped_at_1h"),
        dropped(7_200_000_000, "dropped_at_2h"),
        F.max("late_us").alias("max_late_us"))


@query(
    "cusum_changepoint",
    oracle="""
    WITH seq AS (
        SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER w AS t,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS prefix_cents,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
                   PARTITION BY event_type) AS total_cents
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), d AS (
        SELECT event_type, ts, t, n,
               n * prefix_cents - t * total_cents AS dstat
        FROM seq
    ), ranked AS (
        SELECT event_type, ts, t, n, dstat,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY abs(dstat) DESC, t) AS rk
        FROM d
    )
    SELECT event_type, ts AS changepoint_ts,
           CAST(t AS BIGINT) AS split_index,
           CAST(n AS BIGINT) AS n_events,
           CAST(dstat AS DOUBLE) / (CAST(n AS DOUBLE) * 100e0)
               AS cusum_dollars
    FROM ranked WHERE rk = 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint detection per event type: the CUSUM
    statistic S_t = prefix_t - t*mean peaks where the series' mean
    shifts; the peak |S_t| row is the best single split point.

    Exactness: the statistic is kept in the INTEGER form
    D_t = n*prefix_t - t*total (cents), so the argmax — the actual
    detection decision — is an exact integer comparison with a
    deterministic (|D| desc, t) tiebreak; the reported dollars-scale
    value divides once at the end. One window pass per event_type
    computes rank, prefix, and the two totals on a single exchange;
    the argmax is a second |types|-keyed window over the same
    partitioning. Magnitudes: n*prefix <= n^2*max_cents — int64-safe
    to ~3e6 rows/group at this value range; beyond that, decimal(38)
    lanes (the OLS pattern in trend_daily_revenue_ols).
    """
    ev = Catalog(spark, sf_dir).events
    from ..functions.exact import cents as cents_
    wo = W.partitionBy("event_type").orderBy("ts", "event_id")
    wp = wo.rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy("event_type")
    seq = ev.select(
        "event_type", "ts",
        cents_(F.col("value")).alias("cents"),
        F.row_number().over(wo).cast("long").alias("t"),
        F.sum(cents_(F.col("value"))).over(wp).alias("prefix_cents"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum(cents_(F.col("value"))).over(wall).alias("total_cents"))
    d = seq.select(
        "event_type", "ts", "t", "n",
        (F.col("n") * F.col("prefix_cents")
         - F.col("t") * F.col("total_cents")).alias("dstat"))
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(F.abs(F.col("dstat")).desc(), "t"))
    return (d.withColumn("rk", rk).filter(F.col("rk") == 1)
            .select("event_type", F.col("ts").alias("changepoint_ts"),
                    F.col("t").alias("split_index"),
                    F.col("n").alias("n_events"),
                    (F.col("dstat").cast("double")
                     / (F.col("n").cast("double") * F.lit(100.0)))
                    .alias("cusum_dollars")))


@query(
    "lttb_downsample_hourly",
    oracle="""
    WITH hourly AS (
        SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                   // 3600000000 AS hx,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ), based0 AS (
        SELECT hx, cents, (hx - MIN(hx) OVER ()) // 10 AS b FROM hourly
    ), based AS (
        SELECT hx, cents, b, MAX(b) OVER () AS bmax FROM based0
    ), anchors AS (
        SELECT b, AVG(CAST(hx AS DOUBLE)) AS ax,
               AVG(CAST(cents AS DOUBLE)) AS ay
        FROM based GROUP BY b
    ), scored AS (
        SELECT p.hx, p.cents, p.b, p.bmax,
               CASE WHEN p.b = 0 THEN CAST(p.hx AS DOUBLE)
                    WHEN p.b = p.bmax THEN CAST(-p.hx AS DOUBLE)
                    ELSE -abs((prv.ax - nxt.ax)
                              * (CAST(p.cents AS DOUBLE) - prv.ay)
                              - (prv.ax - CAST(p.hx AS DOUBLE))
                              * (nxt.ay - prv.ay))
               END AS ok
        FROM based p
        LEFT JOIN anchors prv ON prv.b = p.b - 1
        LEFT JOIN anchors nxt ON nxt.b = p.b + 1
    ), picked AS (
        SELECT b, hx, cents,
               ROW_NUMBER() OVER (PARTITION BY b ORDER BY ok, hx) AS rk
        FROM scored
    )
    SELECT CAST(b AS BIGINT) AS bucket,
           make_timestamp(hx * 3600000000) AS hour_ts,
           CAST(cents AS DOUBLE) / 100e0 AS total_value
    FROM picked WHERE rk = 1
    """,
)
def lttb_downsample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of the hourly
    revenue series — the visualization-grade reduction that keeps
    peaks and cliffs a plain AVG-per-bucket smooths away. One point
    survives per 10-hour bucket: the one subtending the largest
    triangle against the neighboring buckets' centroids.

    One documented deviation from Steinarsson's sequential LTTB: the
    left anchor is the previous bucket's CENTROID, not the previously
    selected point — the textbook algorithm is a sequential chain
    (selection t depends on t-1), unusable on a distributed engine;
    the both-centroid variant keeps the shape-preserving behavior and
    is embarrassingly parallel. Endpoint buckets keep their first/
    last point (LTTB's endpoint rule). Determinism: hour indexes and
    cents are exact ints; the area expression is one fixed-order
    double chain; the per-bucket argmax tiebreaks on (score, hx).
    Plan: hourly hash agg -> bucket centroids (tiny) joined back by
    bucket id -> one bucket-partitioned window. Scale: buckets are
    time-arithmetic (no global sort); the series itself is already
    calendar-bounded.

    Null semantics (null_sweep audit): null values are excluded
    before the hourly rollup on both engines — an hour whose every
    event value is null would otherwise carry a NULL series point
    whose NULL triangle score sorts to opposite ends of the two
    engines' default orders.
    """
    from ..functions.exact import cents as cents_
    ev = Catalog(spark, sf_dir).events.filter(F.col("value").isNotNull())
    hourly = (ev.withColumn(
        "hx", F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000"))
        .groupBy("hx")
        .agg(F.sum(cents_(F.col("value"))).alias("cents")))
    wall = W.partitionBy()
    based = hourly.select(
        "hx", "cents",
        F.expr("hx - min(hx) over () ").alias("rel"))
    based = based.select(
        "hx", "cents", F.expr("rel div 10").alias("b"))
    based = based.withColumn("bmax", F.max("b").over(wall))
    anchors = (based.groupBy("b")
               .agg(F.avg(F.col("hx").cast("double")).alias("ax"),
                    F.avg(F.col("cents").cast("double")).alias("ay")))
    prv = anchors.select(F.col("b").alias("pb"), F.col("ax").alias("pax"),
                         F.col("ay").alias("pay"))
    nxt = anchors.select(F.col("b").alias("nb"), F.col("ax").alias("nax"),
                         F.col("ay").alias("nay"))
    scored = (based
              .join(prv, F.col("pb") == F.col("b") - 1, "left")
              .join(nxt, F.col("nb") == F.col("b") + 1, "left"))
    area = F.abs((F.col("pax") - F.col("nax"))
                 * (F.col("cents").cast("double") - F.col("pay"))
                 - (F.col("pax") - F.col("hx").cast("double"))
                 * (F.col("nay") - F.col("pay")))
    ok = (F.when(F.col("b") == 0, F.col("hx").cast("double"))
          .when(F.col("b") == F.col("bmax"), (-F.col("hx")).cast("double"))
          .otherwise(-area))
    rk = F.row_number().over(W.partitionBy("b").orderBy(ok, "hx"))
    return (scored.withColumn("rk", rk).filter(F.col("rk") == 1)
            .select(F.col("b").alias("bucket"),
                    F.timestamp_seconds(F.col("hx") * 3600).alias("hour_ts"),
                    (F.col("cents").cast("double") / F.lit(100.0))
                    .alias("total_value")))


@query(
    "twap_user_value",
    oracle="""
    WITH seg AS (
        SELECT user_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_us(CAST(ts AS TIMESTAMP)) AS dur_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(dur_us) AS BIGINT) AS total_us,
           CAST(SUM(CAST(cents AS HUGEINT) * dur_us) AS DOUBLE)
               / CAST(SUM(dur_us) AS BIGINT) / 100e0 AS twap
    FROM seg WHERE dur_us IS NOT NULL
    GROUP BY user_id HAVING SUM(dur_us) > 0
    """,
)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each event's
    value holds until the user's next event, so the average weights
    every observation by its holding duration — the standard fix for
    irregularly-sampled series, where a plain AVG over-counts bursts.

    Exactness under the engine's integer policy with 128-bit lanes:
    cents x microsecond-duration products overflow int64 at modest
    volumes (1e5 cents x 3.6e9 us ≈ 3.6e14 per row), so the weighted
    sum accumulates in DECIMAL(38,0) (HUGEINT on the oracle side) —
    the same moment-product sizing rule as the OLS operator — and
    exactly one double division chain at the end. One keyed window
    for the holding durations, one hash aggregate.
    """
    from ..functions.exact import cents as cents_
    ev = Catalog(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id", cents_(F.col("value")).alias("cents"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts"))
        .alias("dur_us"))
    return (seg.filter(F.col("dur_us").isNotNull())
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_segments"),
                 F.sum("dur_us").alias("total_us"),
                 F.sum(F.col("cents").cast("decimal(38,0)")
                       * F.col("dur_us")).alias("wsum"))
            .filter(F.col("total_us") > 0)
            .select("user_id", "n_segments", "total_us",
                    (F.col("wsum").cast("double") / F.col("total_us")
                     / F.lit(100.0)).alias("twap")))


@query(
    "weekly_mix_shift",
    oracle="""
    WITH w AS (
        SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS week,
               event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT week, event_type, n,
               CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY week) AS share
        FROM w
    )
    SELECT week, event_type, n, share,
           share - LAG(share) OVER (PARTITION BY event_type ORDER BY week)
               AS share_delta
    FROM tot
    """,
)
def weekly_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift analysis: each event type's share of weekly volume
    and its week-over-week delta — the BI decomposition that
    separates "the business grew" from "the mix moved". Shares are
    exact-integer ratios (one double division per cell); the delta is
    one double subtraction over a keyed lag — both deterministic.
    Two window passes on different keys (week totals, per-type lag)
    over the |weeks|x|types| aggregate, so everything after the first
    groupBy is metadata-sized regardless of event volume.
    """
    ev = Catalog(spark, sf_dir).events
    w = (ev.groupBy(F.date_trunc("week", "ts").cast("date").alias("week"),
                    "event_type")
         .agg(F.count(F.lit(1)).alias("n")))
    share = (F.col("n").cast("double")
             / F.sum("n").over(W.partitionBy("week")))
    tot = w.select("week", "event_type", "n", share.alias("share"))
    lagw = W.partitionBy("event_type").orderBy("week")
    return tot.select(
        "week", "event_type", "n", "share",
        (F.col("share") - F.lag("share").over(lagw)).alias("share_delta"))


@query(
    "max_drawdown_daily_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1
    ), dd AS (
        SELECT day, cents,
               MAX(cents) OVER (ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS peak,
               MAX(cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   - cents AS drawdown
        FROM daily
    ), pick AS (
        SELECT day, cents, peak, drawdown,
               ROW_NUMBER() OVER (ORDER BY drawdown DESC, day) AS rk
        FROM dd
    )
    SELECT day AS trough_day,
           CAST(cents AS DOUBLE) / 100e0 AS trough_value,
           CAST(peak AS DOUBLE) / 100e0 AS peak_value,
           CAST(drawdown AS DOUBLE) / 100e0 AS max_drawdown
    FROM pick WHERE rk = 1
    """,
)
def max_drawdown_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily revenue series: the deepest drop
    from a running peak — the canonical path-dependent risk metric
    (unlike variance it cares about ORDER, which is why it needs the
    cumulative-max window, not any reshuffleable aggregate).
    Everything is exact integer cents: running peak, per-day
    drawdown, and the argmax pick (deterministic (drawdown desc,
    day) tiebreak). The series is calendar-bounded, so the
    unpartitioned cumulative window runs over |days| rows, not
    events — same justification as the OHLC and sweep-line operators.
    """
    from ..functions.exact import cents as cents_
    ev = Catalog(spark, sf_dir).events
    daily = (ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
             .agg(F.sum(cents_(F.col("value"))).alias("cents")))
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    dd = daily.select(
        "day", "cents",
        F.max("cents").over(wcum).alias("peak"))
    dd = dd.withColumn("drawdown", F.col("peak") - F.col("cents"))
    rk = F.row_number().over(W.orderBy(F.col("drawdown").desc(), "day"))
    return (dd.withColumn("rk", rk).filter(F.col("rk") == 1)
            .select(F.col("day").alias("trough_day"),
                    (F.col("cents").cast("double") / 100e0)
                    .alias("trough_value"),
                    (F.col("peak").cast("double") / 100e0)
                    .alias("peak_value"),
                    (F.col("drawdown").cast("double") / 100e0)
                    .alias("max_drawdown")))


@query(
    "growth_accounting_weekly",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS week
        FROM events
    ), marked AS (
        SELECT user_id, week,
               MIN(week) OVER (PARTITION BY user_id) AS first_week,
               LAG(week) OVER (PARTITION BY user_id ORDER BY week)
                   AS prev_active
        FROM act
    ), flags AS (
        SELECT week,
               CASE WHEN week = first_week THEN 'new'
                    WHEN prev_active = week - INTERVAL 7 DAY THEN 'retained'
                    ELSE 'resurrected' END AS status
        FROM marked
    ), churn AS (
        SELECT week + INTERVAL 7 DAY AS week, 'churned' AS status
        FROM marked m
        WHERE NOT EXISTS (
            SELECT 1 FROM act a
            WHERE a.user_id = m.user_id
              AND a.week = m.week + INTERVAL 7 DAY)
          AND week + INTERVAL 7 DAY <= (SELECT MAX(week) FROM act)
    )
    SELECT CAST(week AS DATE) AS week, status,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM (SELECT week, status FROM flags
          UNION ALL SELECT week, status FROM churn)
    GROUP BY 1, 2
    """,
)
def growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: every active user-week classified as NEW
    (first ever week), RETAINED (also active the prior week), or
    RESURRECTED (returning after a gap), plus CHURNED rows for users
    active one week but not the next — the standard DAU/WAU growth
    decomposition whose four series sum to the net growth rate.

    One distinct (user, week) table feeds everything: a per-user
    window computes first-week and previous-active-week in one pass
    (classification is then a pure row expression), and churn is the
    anti-join of this week's actives against next week's, bounded by
    the corpus horizon so the final week doesn't spuriously churn
    everyone. All integer counts and date arithmetic — deterministic
    by construction; shuffles are keyed by user then by the
    |weeks|x4-sized output.
    """
    ev = Catalog(spark, sf_dir).events
    act = (ev.select("user_id",
                     F.date_trunc("week", "ts").cast("date").alias("week"))
           .distinct())
    wu = W.partitionBy("user_id")
    wo = W.partitionBy("user_id").orderBy("week")
    marked = act.select(
        "user_id", "week",
        F.min("week").over(wu).alias("first_week"),
        F.lag("week").over(wo).alias("prev_active"))
    status = (F.when(F.col("week") == F.col("first_week"), F.lit("new"))
              .when(F.col("prev_active") == F.date_sub(F.col("week"), 7),
                    F.lit("retained"))
              .otherwise(F.lit("resurrected")))
    flags = marked.select("week", status.alias("status"))
    max_week = act.agg(F.max("week").alias("mw"))
    nxt = act.select("user_id", F.col("week").alias("nweek"))
    churn = (marked.join(
        nxt, (marked.user_id == nxt.user_id)
        & (F.col("nweek") == F.date_add(marked.week, 7)), "left_anti")
        .crossJoin(F.broadcast(max_week))
        .filter(F.date_add(F.col("week"), 7) <= F.col("mw"))
        .select(F.date_add(F.col("week"), 7).alias("week"),
                F.lit("churned").alias("status")))
    return (flags.unionByName(churn)
            .groupBy("week", "status")
            .agg(F.count(F.lit(1)).alias("n_users")))


@query(
    "theil_sen_trend",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS c
        FROM events GROUP BY 1
    ), p AS (
        SELECT CAST(b.c - a.c AS DOUBLE)
               / date_diff('day', a.day, b.day) AS slope
        FROM d a JOIN d b ON b.day > a.day
    ), r AS (
        SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn,
               COUNT(*) OVER () AS n
        FROM p
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_days,
           CAST(n AS BIGINT) AS n_pairs,
           slope AS median_slope_cents_per_day
    FROM r WHERE rn = (n + 1) // 2
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily event value — the
    breakdown-resistant sibling of ``trend_daily_revenue_ols``: the
    estimator is the MEDIAN of all pairwise slopes, so up to ~29% of
    the days can be arbitrarily corrupted (outage days, backfill
    spikes) without moving it, where OLS chases every outlier.

    Exactness: each slope is one double division of two exact
    integers (cents delta / day delta) — deterministic per pair — and
    the median is the nearest-rank order statistic, a unique VALUE of
    the slope multiset. Scale shape: the pair join is DAYS x DAYS,
    not rows x rows — the day aggregate collapses the fact table
    first, so n grows with calendar time, not data volume; beyond
    ~10^5 days the published remedy is Siegel's repeated-median or
    sampled pairs, composing on the same day-aggregate."""
    from ..functions.exact import cents

    e = Catalog(spark, sf_dir).events
    d = (e.groupBy(F.to_date("ts").alias("day"))
         .agg(F.sum(cents(F.col("value"))).alias("c")))
    a = d.select(F.col("day").alias("day_a"), F.col("c").alias("c_a"))
    b = d.select(F.col("day").alias("day_b"), F.col("c").alias("c_b"))
    slopes = (a.join(b, F.col("day_b") > F.col("day_a"))
              .select(((F.col("c_b") - F.col("c_a")).cast("double")
                       / F.datediff("day_b", "day_a")).alias("slope")))
    n_pairs = slopes.agg(F.count(F.lit(1)).alias("n"))
    ranked = (slopes
              .withColumn("rn", F.row_number().over(W.orderBy("slope")))
              .crossJoin(F.broadcast(n_pairs)))
    n_days = d.agg(F.count(F.lit(1)).alias("n_days"))
    return (ranked.filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .crossJoin(F.broadcast(n_days))
            .select("n_days", F.col("n").alias("n_pairs"),
                    F.col("slope").alias("median_slope_cents_per_day")))


@query(
    "autocorrelation_daily_revenue",
    oracle=f"""
    WITH {_DAILY_REVENUE_SQL}, mn AS (SELECT min(d) AS d0 FROM daily),
    idx AS (
        SELECT CAST(date_diff('day', d0, d) AS BIGINT) AS x, y
        FROM daily CROSS JOIN mn
    ), lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag),
    pairs AS (
        SELECT l.lag, a.y AS ya, b.y AS yb
        FROM idx a CROSS JOIN lags l
        JOIN idx b ON b.x = a.x + l.lag
    ), s AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ya) AS BIGINT) AS sa,
               CAST(SUM(yb) AS BIGINT) AS sb,
               SUM(CAST(ya AS HUGEINT) * CAST(yb AS HUGEINT)) AS sab,
               SUM(CAST(ya AS HUGEINT) * CAST(ya AS HUGEINT)) AS saa,
               SUM(CAST(yb AS HUGEINT) * CAST(yb AS HUGEINT)) AS sbb
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           CAST(CASE WHEN CAST(n AS HUGEINT) * sab
                          - CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT)
                          > 0 THEN 1
                     WHEN CAST(n AS HUGEINT) * sab
                          - CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT)
                          < 0 THEN -1 ELSE 0 END AS BIGINT) AS acf_sign,
           CAST((1000000
                 * ABS(CAST(n AS HUGEINT) * sab
                       - CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT))
                 // (CAST(n AS HUGEINT) * saa
                     - CAST(sa AS HUGEINT) * CAST(sa AS HUGEINT)))
                * ABS(CAST(n AS HUGEINT) * sab
                      - CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT))
                // (CAST(n AS HUGEINT) * sbb
                    - CAST(sb AS HUGEINT) * CAST(sb AS HUGEINT))
                AS BIGINT) AS acf_sq_micros
    FROM s
    ORDER BY lag
    """,
)
def autocorrelation_daily_revenue(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily revenue at lags 1–7 — the
    seasonality detector (a weekly cycle puts a spike at lag 7) and
    the residual-whiteness check behind every forecasting model.
    Pearson ACF per lag over the (y_t, y_{t+k}) pair set, computed on
    the ``trend_daily_revenue_ols`` exact-moment lane: whole-unit
    integer daily revenue, five integer moments per lag in 128-bit
    lanes (DECIMAL(38,0) / HUGEINT). The statistic is emitted in its
    EXACT form — (sign, squared value in micros) — because the
    moments exceed 2^53 and int128→double conversion rounds
    differently across engines (observed: one ulp at sf0.1, lag 5, in
    the sf0.1 assurance sweep); acf = sign·sqrt(micros/10⁶) is one
    consumer-side fixed op.

    Shape: the daily series keys on an INTEGER day index (days since
    min date, 1-row broadcast), so each lag's pair set is an
    EQUI-join on x + lag — 7 lags via one exploded lag relation, one
    hash join, no date-arithmetic divergence and no range join; all
    moment aggregates partial map-side. The series relation is
    calendar-bounded, so every post-aggregate step is metadata-sized.
    """
    daily = _daily_revenue(Catalog(spark, sf_dir))
    mn = daily.agg(F.min("d").alias("d0"))
    idx = (daily.crossJoin(F.broadcast(mn))
           .select(F.datediff(F.col("d"), F.col("d0")).cast("long")
                   .alias("x"), "y")
           .localCheckpoint(eager=False))
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = idx.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = idx.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = (a.crossJoin(F.broadcast(lags))
             .withColumn("xb", F.col("xa") + F.col("lag"))
             .join(b, "xb"))
    ad = F.col("ya").cast("decimal(19,0)")
    bd = F.col("yb").cast("decimal(19,0)")
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("ya").alias("sa"), F.sum("yb").alias("sb"),
        F.sum(ad * bd).alias("sab"),
        F.sum(ad * ad).alias("saa"),
        F.sum(bd * bd).alias("sbb"))

    def wide(name: str):
        return F.col(name).cast("decimal(38,0)")

    num = wide("n_pairs") * wide("sab") - wide("sa") * wide("sb")
    den_a = wide("n_pairs") * wide("saa") - wide("sa") * wide("sa")
    den_b = wide("n_pairs") * wide("sbb") - wide("sb") * wide("sb")
    # acf emitted as (sign, squared value in micros): the covariance
    # moments exceed 2^53, and int128 -> double conversion rounds
    # differently across engines (observed: one ulp at sf0.1, lag 5),
    # so the float form cannot hash-verify. sign(num) and
    # 10^6*num^2 div (den_a*den_b) are exact integers; acf =
    # sign * sqrt(micros/1e6) is one consumer-side fixed op.
    return (s.select(
        "lag", "n_pairs",
        F.when(num > 0, 1).when(num < 0, -1).otherwise(0)
        .cast("long").alias("acf_sign"),
        # Two sequential integer floors (the declared two-step floor
        # lane) over |num| — squares are sign-free and a negative
        # numerator would hit the div-truncates-vs-//-floors trap:
        # floor(floor(1e6*|num|/den_a)*|num|/den_b). A single-floor
        # 1e6*num^2/(den_a*den_b) would need ~45 digits at sf1 —
        # beyond both DECIMAL(38,0) and HUGEINT — while each step here
        # stays ~26 digits; both engines evaluate the identical floor
        # sequence.
        F.expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * ({num})"
               " div ({dena})) * ({num}) div ({denb}) AS BIGINT)"
               .format(
                   num="ABS(n_pairs * CAST(sab AS DECIMAL(38,0))"
                       " - CAST(sa AS DECIMAL(38,0)) * sb)",
                   dena="n_pairs * CAST(saa AS DECIMAL(38,0))"
                        " - CAST(sa AS DECIMAL(38,0)) * sa",
                   denb="n_pairs * CAST(sbb AS DECIMAL(38,0))"
                        " - CAST(sb AS DECIMAL(38,0)) * sb"))
        .alias("acf_sq_micros"))
        .orderBy("lag"))


@query(
    "runs_test_randomness",
    oracle=f"""
    WITH {_DAILY_REVENUE_SQL}, deltas AS (
        SELECT d, y - lag(y) OVER (ORDER BY d) AS dy FROM daily
    ), signs AS (
        SELECT d, CASE WHEN dy > 0 THEN 1 ELSE -1 END AS s
        FROM deltas WHERE dy IS NOT NULL AND dy <> 0
    ), runs AS (
        SELECT s,
               CASE WHEN s <> lag(s) OVER (ORDER BY d) THEN 1
                    ELSE 0 END AS boundary
        FROM signs
    )
    SELECT CAST(COUNT_IF(s = 1) AS BIGINT) AS n_plus,
           CAST(COUNT_IF(s = -1) AS BIGINT) AS n_minus,
           CAST(CAST(SUM(boundary) AS BIGINT) + 1 AS BIGINT) AS n_runs,
           CAST(1000000 + 2000000 * COUNT_IF(s = 1)
                * COUNT_IF(s = -1) // COUNT(*) AS BIGINT)
               AS expected_runs_micros
    FROM runs
    """,
)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily-revenue delta signs —
    the nonparametric "is this series random or trending/oscillating?"
    check beside the drift detectors: too FEW runs means momentum
    (trend), too MANY means mean-reversion (oscillation). Emits the
    exact integers (n_plus, n_minus, observed runs) plus the expected
    run count 1 + 2·n₊·n₋/(n₊+n₋) in floor-div micros — the
    z-normalization is a fixed double chain a consumer applies; the
    engine's contract stays integer-exact (zero deltas dropped, the
    standard tie rule; the first delta of the sign sequence opens run
    #1, hence boundary-sum + 1).

    Both windows (delta lag, sign-change lag) order by date over the
    CALENDAR-BOUNDED daily relation — the same single-partition-walk
    envelope as the KS/OLS family, metadata-sized after the one
    corpus aggregate.
    """
    from pyspark.sql import Window as W

    daily = _daily_revenue(Catalog(spark, sf_dir))
    w = W.orderBy("d")
    deltas = daily.withColumn("dy", F.col("y") - F.lag("y").over(w))
    signs = (deltas.filter(F.col("dy").isNotNull() & (F.col("dy") != 0))
             .select("d", F.when(F.col("dy") > 0, 1).otherwise(-1)
                     .alias("s")))
    runs = signs.withColumn(
        "boundary",
        F.when(F.col("s") != F.lag("s").over(w), 1).otherwise(0))
    return runs.agg(
        F.sum((F.col("s") == 1).cast("long")).alias("n_plus"),
        F.sum((F.col("s") == -1).cast("long")).alias("n_minus"),
        (F.sum("boundary") + 1).cast("long").alias("n_runs"),
        F.expr("1000000 + 2000000 * sum(cast(s = 1 as long))"
               " * sum(cast(s = -1 as long)) div count(1)")
        .cast("long").alias("expected_runs_micros"))


@query(
    "weekday_seasonality_index",
    oracle=f"""
    WITH {_DAILY_REVENUE_SQL}, wd AS (
        SELECT CAST(isodow(d) AS BIGINT) AS weekday,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(CAST(SUM(y) AS BIGINT) AS BIGINT) AS wd_units
        FROM daily GROUP BY 1
    ), tot AS (
        SELECT weekday, n_days, wd_units,
               CAST(SUM(n_days) OVER () AS BIGINT) AS total_days,
               CAST(SUM(wd_units) OVER () AS BIGINT) AS total_units
        FROM wd
    )
    SELECT weekday, n_days, wd_units,
           wd_units // n_days AS avg_units,
           CAST(1000000 * (wd_units // n_days)
                // (total_units // total_days) AS BIGINT)
               AS index_micros
    FROM tot
    ORDER BY weekday
    """,
)
def weekday_seasonality_index(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index — average revenue per weekday
    relative to the overall daily average (index 1 000 000 = an
    average day). The denominator normalizes by DAY COUNTS per
    weekday, not row counts, so a dataset that doesn't start/end on
    a week boundary doesn't bias the index. The two-step floor lane
    (per-weekday average, then ratio in micros) is the declared
    deterministic contract — both engines evaluate the identical
    floor sequence, and the ~1e-6 quantization is far below any
    seasonal signal worth acting on.

    One orders aggregate to the daily relation, a 7-row weekday
    rollup, window totals over those 7 rows — everything after the
    first aggregate is metadata-sized.
    """
    from pyspark.sql import Window as W

    daily = _daily_revenue(Catalog(spark, sf_dir))
    wd = (daily.groupBy((F.weekday("d") + 1).cast("long")
                        .alias("weekday"))
          .agg(F.count(F.lit(1)).alias("n_days"),
               F.sum("y").alias("wd_units")))
    tot = (wd.withColumn("total_days",
                         F.sum("n_days").over(W.partitionBy(F.lit(1))))
           .withColumn("total_units",
                       F.sum("wd_units").over(W.partitionBy(F.lit(1)))))
    return (tot.select(
        "weekday", "n_days", "wd_units",
        F.expr("wd_units div n_days").alias("avg_units"),
        F.expr("1000000 * (wd_units div n_days)"
               " div (total_units div total_days)")
        .alias("index_micros"))
        .orderBy("weekday"))


@query(
    "attribution_position_based",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id AS purchase_id,
               CAST(ts AS TIMESTAMP) AS pts
        FROM events WHERE event_type = 'purchase'
    ), t AS (
        SELECT user_id, event_type, event_id,
               CAST(ts AS TIMESTAMP) AS tts
        FROM events WHERE event_type <> 'purchase'
    ), credits AS (
        SELECT p.purchase_id, t.event_type, t.tts, t.event_id
        FROM p JOIN t ON t.user_id = p.user_id
         AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 7 DAY
    ), ranked AS (
        SELECT purchase_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY purchase_id
                                  ORDER BY tts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY purchase_id) AS n
        FROM credits
    ), weighted AS (
        SELECT purchase_id, event_type,
               CASE WHEN n = 1 THEN 1000000
                    WHEN n = 2 THEN 500000
                    WHEN rn = 1 OR rn = n THEN 400000
                    ELSE 200000 // (n - 2)
                         + CASE WHEN rn = 2 THEN 200000 % (n - 2)
                                ELSE 0 END
               END AS w_micros
        FROM ranked
    )
    SELECT event_type AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(CAST(SUM(w_micros) AS BIGINT) AS BIGINT)
               AS total_weight_micros
    FROM weighted
    GROUP BY event_type
    ORDER BY touch_type
    """,
)
def attribution_position_based(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """POSITION-BASED (U-shaped) multi-touch attribution — the
    multi-credit sibling of ``attribution_last_touch``: each
    purchase's credit splits 40% to the first touch in the 7-day
    lookback, 40% to the last, and the middle 20% equally across
    interior touches, every weight an exact integer in micros (the
    equal-split floor remainder goes to the earliest middle touch, so
    per-purchase weights sum to exactly 10⁶ — the proration
    discipline). n = 1 → 100%, n = 2 → 50/50 by declared convention.

    Unlike last-touch (a pure window carry), multi-touch inherently
    materializes (purchase × qualifying touch) rows; the join is
    user-keyed equi + time predicate, so per-user work is bounded by
    that user's touch×purchase density, never cross-user (hot users
    get the standard salting remedy). Both windows ride one
    purchase-keyed exchange.
    """
    from pyspark.sql import Window as W

    ev = Catalog(spark, sf_dir).events
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", F.col("event_id").alias("purchase_id"),
                 F.col("ts").alias("pts")))
    t = (ev.filter(F.col("event_type") != "purchase")
         .select(F.col("user_id").alias("t_user"), "event_type",
                 "event_id", F.col("ts").alias("tts")))
    credits = p.join(
        t, (F.col("t_user") == F.col("user_id"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 7 DAY")))
    wp = W.partitionBy("purchase_id")
    ranked = (credits
              .withColumn("rn", F.row_number().over(
                  wp.orderBy("tts", "event_id")))
              .withColumn("n", F.count(F.lit(1)).over(wp)))
    w_micros = (
        F.when(F.col("n") == 1, 1000000)
        .when(F.col("n") == 2, 500000)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 400000)
        .otherwise(F.expr("200000 div (n - 2)")
                   + F.when(F.col("rn") == 2,
                            F.expr("200000 % (n - 2)")).otherwise(0)))
    return (ranked.withColumn("w_micros", w_micros)
            .groupBy(F.col("event_type").alias("touch_type"))
            .agg(F.count(F.lit(1)).alias("n_credits"),
                 F.sum("w_micros").alias("total_weight_micros"))
            .orderBy("touch_type"))


@query(
    "value_quintile_mobility",
    oracle="""
    WITH halves AS (
        SELECT user_id,
               CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                    THEN 1 ELSE 2 END AS half,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ), per_user AS (
        SELECT half, user_id,
               CAST(CAST(SUM(cents) AS BIGINT) AS BIGINT) AS total_cents
        FROM halves GROUP BY half, user_id
    ), ranked AS (
        SELECT half, user_id,
               NTILE(5) OVER (PARTITION BY half
                              ORDER BY total_cents, user_id) AS quintile
        FROM per_user
    )
    SELECT a.quintile AS q_first_half, b.quintile AS q_second_half,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM ranked a JOIN ranked b
      ON a.user_id = b.user_id AND a.half = 1 AND b.half = 2
    GROUP BY a.quintile, b.quintile
    ORDER BY q_first_half, q_second_half
    """,
)
def value_quintile_mobility(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Quintile MOBILITY matrix — the rank-persistence analysis
    behind "do our whales stay whales?": users are quintiled by total
    event value in each half of the month, and the 5×5 transition
    counts show how much rank movement the second half saw (a heavy
    diagonal = sticky value tiers; uniform rows = value rank is
    noise). The user_id ntile tie-break makes equal-value boundary
    assignments deterministic on both engines.

    One events aggregate to (half, user) totals, an ntile per half
    (two ordered walks over the USER relation — the bounded-key
    envelope; a production run quintiles by pre-aggregated
    percentile cutpoints instead, composing without changing the
    matrix), one self-join on user_id, a 25-row rollup.
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).events
    halves = (e.filter(F.col("value").isNotNull())
              .select("user_id",
                      F.when(F.to_date("ts") < F.lit("2024-01-16")
                             .cast("date"), 1).otherwise(2).alias("half"),
                      F.round(F.col("value") * 100).cast("long")
                      .alias("cents")))
    per_user = halves.groupBy("half", "user_id").agg(
        F.sum("cents").alias("total_cents"))
    ranked = per_user.select(
        "half", "user_id",
        F.ntile(5).over(W.partitionBy("half")
                        .orderBy("total_cents", "user_id"))
        .alias("quintile"))
    a = (ranked.filter(F.col("half") == 1)
         .select("user_id", F.col("quintile").alias("q_first_half")))
    b = (ranked.filter(F.col("half") == 2)
         .select(F.col("user_id").alias("uid_b"),
                 F.col("quintile").alias("q_second_half")))
    return (a.join(b, F.col("user_id") == F.col("uid_b"))
            .groupBy("q_first_half", "q_second_half")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .orderBy("q_first_half", "q_second_half"))


@query(
    "seasonal_decomposition_additive",
    oracle=f"""
    WITH {_DAILY_REVENUE_SQL}, mn AS (SELECT min(d) AS d0 FROM daily),
    idx AS (
        SELECT d, CAST(date_diff('day', d0, d) AS BIGINT) AS x,
               CAST(isodow(d) AS BIGINT) AS weekday, y
        FROM daily CROSS JOIN mn
    ), trended AS (
        SELECT d, x, weekday, y,
               (CAST(SUM(y) OVER fr AS BIGINT)
                + CAST(COUNT(*) OVER fr AS BIGINT) * 1000000000)
               // CAST(COUNT(*) OVER fr AS BIGINT) - 1000000000
                   AS trend
        FROM idx
        WINDOW fr AS (ORDER BY x RANGE BETWEEN 3 PRECEDING
                      AND 3 FOLLOWING)
    ), seasonal AS (
        SELECT weekday,
               (CAST(SUM(y - trend) AS BIGINT)
                + CAST(COUNT(*) AS BIGINT) * 1000000000)
               // CAST(COUNT(*) AS BIGINT) - 1000000000 AS s_w
        FROM trended GROUP BY weekday
    )
    SELECT t.d, t.y, CAST(t.trend AS BIGINT) AS trend,
           CAST(s.s_w AS BIGINT) AS seasonal,
           CAST(t.y - t.trend - s.s_w AS BIGINT) AS residual
    FROM trended t JOIN seasonal s USING (weekday)
    ORDER BY t.d
    """,
)
def seasonal_decomposition_additive(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (STL-lite): daily revenue =
    trend + weekly seasonal + residual, the forecasting
    preprocessor. Trend is a centered 7-day moving average (RANGE
    frame on the day index, so edges average what exists); the
    seasonal component is the mean detrended value per weekday; the
    residual is what's left — the series anomaly detectors should
    actually run on.

    Every mean is a FLOOR-DIV with the +K·n offset trick
    ((Σ + n·10⁹) div n − 10⁹), because detrended values go negative
    and Spark's div truncates toward zero while DuckDB's // floors —
    the offset moves the numerator positive where the two agree, a
    declared 1-unit quantization far below the signal. One orders
    aggregate, one centered walk, a 7-row seasonal aggregate
    broadcast back onto the daily relation.
    """
    from pyspark.sql import Window as W

    daily = _daily_revenue(Catalog(spark, sf_dir))
    mn = daily.agg(F.min("d").alias("d0"))
    idx = (daily.crossJoin(F.broadcast(mn))
           .select("d", F.datediff(F.col("d"), F.col("d0")).cast("long")
                   .alias("x"),
                   (F.weekday("d") + 1).cast("long").alias("weekday"),
                   "y"))
    fr = W.orderBy("x").rangeBetween(-3, 3)
    trended = (idx
               .withColumn("w_sum", F.sum("y").over(fr))
               .withColumn("w_n", F.count(F.lit(1)).over(fr))
               .withColumn("trend",
                           F.expr("(w_sum + w_n * 1000000000) div w_n"
                                  " - 1000000000"))
               .drop("w_sum", "w_n")
               # Both the seasonal aggregate and the final join read
               # this relation: checkpoint lazily so the centered
               # walk runs once (the MMR-rescan lesson).
               .localCheckpoint(eager=False))
    seasonal = (trended
                .groupBy("weekday")
                .agg(F.sum(F.col("y") - F.col("trend")).alias("sd"),
                     F.count(F.lit(1)).alias("n"))
                .select("weekday",
                        F.expr("(sd + n * 1000000000) div n"
                               " - 1000000000").alias("s_w")))
    return (trended.join(F.broadcast(seasonal), "weekday")
            .select("d", "y", F.col("trend").cast("long").alias("trend"),
                    F.col("s_w").cast("long").alias("seasonal"),
                    (F.col("y") - F.col("trend") - F.col("s_w"))
                    .cast("long").alias("residual"))
            .orderBy("d"))


@query(
    "session_bounce_rate",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                           OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_id,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)
                   AS session_idx
        FROM ordered
    ), per_session AS (
        SELECT user_id, session_idx,
               CAST(min(CAST(ts AS DATE)) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS depth
        FROM sess GROUP BY user_id, session_idx
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT_IF(depth = 1) AS BIGINT) AS n_bounces,
           CAST(1000000 * COUNT_IF(depth = 1) // COUNT(*) AS BIGINT)
               AS bounce_rate_micros,
           CAST(MAX(depth) AS BIGINT) AS max_depth
    FROM per_session
    GROUP BY day
    ORDER BY day
    """,
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate — the web-analytics KPI built on sessionization:
    single-event sessions over total sessions per day (keyed to the
    session's FIRST day, so a midnight-spanning session counts
    once). Reuses the 30-minute-gap session definition of
    ``events_sessionize`` verbatim (one rule, two consumers), then
    one session-level rollup; the rate is a floor-div integer.

    Same plan skeleton as sessionize (one user-keyed window
    exchange, gap flag + running sum on a shared walk), plus a
    session aggregate and a per-day rollup — both over the SESSION
    relation, corpus-sized shuffles stop at the first window.
    """
    from pyspark.sql import Window as W

    ev = Catalog(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = (F.unix_micros(F.col("ts"))
              - F.unix_micros(F.lag("ts").over(w)))
    ordered = ev.select(
        "user_id", "ts", "event_id",
        F.when(gap_us > 1_800_000_000, 1).otherwise(0)
        .alias("new_session"))
    sess = ordered.withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    per_session = (sess.groupBy("user_id", "session_idx")
                   .agg(F.min(F.to_date("ts")).alias("day"),
                        F.count(F.lit(1)).alias("depth")))
    return (per_session.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum((F.col("depth") == 1).cast("long"))
                 .alias("n_bounces"),
                 F.expr("1000000 * sum(cast(depth = 1 as long))"
                        " div count(1)").alias("bounce_rate_micros"),
                 F.max("depth").alias("max_depth"))
            .orderBy("day"))


@query(
    "hour_weekday_heatmap",
    oracle="""
    SELECT CAST(isodow(CAST(ts AS TIMESTAMP)) AS BIGINT) AS weekday,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                AS BIGINT) AS cents
    FROM events
    GROUP BY 1, 2
    ORDER BY weekday, hour
    """,
)
def hour_weekday_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The activity heatmap — event count and exact value by
    (weekday, hour): the 7×24 matrix behind every "when are users
    active" dashboard panel and the empirical input to load-aware
    scheduling. One scan, one 168-cell hash aggregate (map-side
    partials collapse almost everything), exact cents.
    """
    ev = Catalog(spark, sf_dir).events
    return (ev.groupBy(
        (F.weekday("ts") + 1).cast("long").alias("weekday"),
        F.hour("ts").cast("long").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.round(F.col("value") * 100).cast("long"))
             .alias("cents"))
        .orderBy("weekday", "hour"))


@query(
    "forecast_wape_eval",
    oracle=f"""
    WITH {_DAILY_REVENUE_SQL}, mn AS (SELECT min(d) AS d0 FROM daily),
    idx AS (
        SELECT CAST(date_diff('day', d0, d) AS BIGINT) AS x, y
        FROM daily CROSS JOIN mn
    ), joined AS (
        SELECT a.x, a.y AS actual, f.y AS forecast
        FROM idx a JOIN idx f ON f.x = a.x - 7
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(CAST(SUM(ABS(actual - forecast)) AS BIGINT) AS BIGINT)
               AS abs_err_units,
           CAST(CAST(SUM(actual) AS BIGINT) AS BIGINT) AS actual_units,
           CAST(1000000 * CAST(SUM(ABS(actual - forecast)) AS HUGEINT)
                // CAST(SUM(actual) AS HUGEINT) AS BIGINT)
               AS wape_micros,
           CAST(CAST(SUM(actual - forecast) AS BIGINT) AS BIGINT)
               AS bias_units
    FROM joined
    """,
)
def forecast_wape_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy evaluation by WAPE (weighted absolute
    percentage error) against the SEASONAL-NAIVE baseline (forecast =
    the value 7 days earlier) — the benchmark every forecasting model
    must beat before it earns compute, and the denominator-summed
    metric that — unlike MAPE — never divides by a single day's zero.
    WAPE = Σ|err| / Σactual as one exact integer ratio in micros;
    the signed bias rides along (systematic over/under-forecast).

    The lag join is an equi-join on the integer day index (x − 7),
    the ``autocorrelation_daily_revenue`` decomposition; one daily
    aggregate, one metadata-sized join, a 1-row reduction.
    """
    daily = _daily_revenue(Catalog(spark, sf_dir))
    mn = daily.agg(F.min("d").alias("d0"))
    idx = (daily.crossJoin(F.broadcast(mn))
           .select(F.datediff(F.col("d"), F.col("d0")).cast("long")
                   .alias("x"), "y")
           .localCheckpoint(eager=False))
    a = idx.select(F.col("x"), F.col("y").alias("actual"))
    f = idx.select((F.col("x") + 7).alias("x"),
                   F.col("y").alias("forecast"))
    joined = a.join(f, "x")
    return joined.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.abs(F.col("actual") - F.col("forecast")))
        .alias("abs_err_units"),
        F.sum("actual").alias("actual_units"),
        F.expr("CAST(CAST(1000000 AS DECIMAL(38,0))"
               " * sum(abs(actual - forecast))"
               " div CAST(sum(actual) AS DECIMAL(38,0))"
               " AS BIGINT)").alias("wape_micros"),
        F.sum(F.col("actual") - F.col("forecast")).alias("bias_units"))


@query(
    "timezone_daily_rollup",
    oracle="""
    WITH shifted AS (
        SELECT CAST(ts AS DATE) AS utc_day,
               CAST(timezone('America/New_York',
                             CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC')
                    AS DATE) AS ny_day,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT ny_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(cents) AS BIGINT) AS BIGINT) AS cents,
           CAST(COUNT_IF(utc_day <> ny_day) AS BIGINT)
               AS n_shifted_from_utc_day
    FROM shifted
    GROUP BY ny_day
    ORDER BY ny_day
    """,
)
def timezone_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-AWARE daily rollup — the correctness trap every
    global warehouse hits: "daily revenue" grouped by UTC date is
    wrong for a New York business day, and the two partitions
    disagree exactly for events between 00:00 and 05:00 UTC (the
    n_shifted column COUNTS the rows this query reclassifies, so the
    stake is visible, not hypothetical). Conversion is
    from_utc_timestamp against the IANA zone — DST rules included —
    and the engine pins session.timeZone=UTC in ``tune()`` so the
    result is independent of where the cluster runs; the DuckDB twin
    uses AT TIME ZONE arithmetic that is likewise
    session-timezone-independent (verified under an adversarial
    session zone).

    One scan, one date-key aggregate — the cost of being correct is
    one expression.
    """
    e = Catalog(spark, sf_dir).events
    shifted = e.select(
        F.to_date("ts").alias("utc_day"),
        F.to_date(F.from_utc_timestamp("ts", "America/New_York"))
        .alias("ny_day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    return (shifted.groupBy("ny_day")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("cents").alias("cents"),
                 F.sum((F.col("utc_day") != F.col("ny_day"))
                       .cast("long")).alias("n_shifted_from_utc_day"))
            .orderBy("ny_day"))


@query(
    "reorder_gap_distribution",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               CAST(o_orderdate AS DATE)
                   - LAG(CAST(o_orderdate AS DATE))
                     OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS gap_days
        FROM orders
    ), banded AS (
        SELECT CASE WHEN gap_days <= 7 THEN '0-1w'
                    WHEN gap_days <= 30 THEN '1w-1m'
                    WHEN gap_days <= 90 THEN '1m-3m'
                    WHEN gap_days <= 365 THEN '3m-1y'
                    ELSE '1y+' END AS gap_band,
               gap_days
        FROM gaps WHERE gap_days IS NOT NULL
    )
    SELECT gap_band,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_days) AS BIGINT) AS min_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_days,
           CAST(SUM(gap_days) AS BIGINT) AS total_days
    FROM banded
    GROUP BY gap_band
    ORDER BY gap_band
    """,
)
def reorder_gap_distribution(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Repurchase-cadence distribution — the replenishment signal
    behind reorder reminders and churn-risk windows: per customer,
    the day gap between consecutive orders (lag over the customer's
    order history), banded into the operational buckets
    (week/month/quarter/year). First orders have no predecessor and
    drop; band stats stay integer (counts, min/max/total days) so
    any mean is a consumer-side division.

    One customer-keyed exchange for the lag walk, then a 5-row
    aggregate — the distribution is constant-sized at any order
    volume.
    """
    o = Catalog(spark, sf_dir).orders
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(F.col("o_orderdate").cast("date"),
                     F.lag(F.col("o_orderdate").cast("date")).over(w))
    band = (F.when(F.col("gap_days") <= 7, "0-1w")
            .when(F.col("gap_days") <= 30, "1w-1m")
            .when(F.col("gap_days") <= 90, "1m-3m")
            .when(F.col("gap_days") <= 365, "3m-1y")
            .otherwise("1y+"))
    return (o.select(gap.alias("gap_days"))
            .filter(F.col("gap_days").isNotNull())
            .groupBy(band.alias("gap_band"))
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 F.min("gap_days").cast("long").alias("min_days"),
                 F.max("gap_days").cast("long").alias("max_days"),
                 F.sum("gap_days").cast("long").alias("total_days"))
            .orderBy("gap_band"))


@query(
    "cohort_retention_matrix",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               date_trunc('week', MIN(CAST(ts AS TIMESTAMP)))
                   AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id,
               date_trunc('week', CAST(ts AS TIMESTAMP)) AS active_week
        FROM events
    ), sizes AS (
        SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM firsts GROUP BY cohort_week
    ), cells AS (
        SELECT f.cohort_week,
               CAST((CAST(a.active_week AS DATE)
                     - CAST(f.cohort_week AS DATE)) // 7 AS BIGINT)
                   AS weeks_since,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM firsts f JOIN activity a USING (user_id)
        GROUP BY f.cohort_week, weeks_since
    )
    SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
           c.weeks_since, s.cohort_size, c.n_active,
           CAST(c.n_active * 1000000 // s.cohort_size AS BIGINT)
               AS retention_micros
    FROM cells c JOIN sizes s USING (cohort_week)
    ORDER BY cohort_week, weeks_since
    """,
)
def cohort_retention_matrix(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """The retention triangle — cohort week × weeks-since-signup grid
    of active-user counts and retention rates, the canonical
    week-over-week health readout every growth team reads first.
    Users cohort by the week of their first event; a (cohort, k)
    cell counts cohort members active in week cohort+k; rates are
    floor-divided integer micros against the cohort size (week 0 is
    1.0 by construction — its absence would flag a join bug).

    Two user-keyed aggregates (first-seen, distinct user-weeks) that
    share one shuffle key, a join back on user_id, then week-grain
    cells — the matrix is (weeks)² rows regardless of corpus size.
    """
    ev = Catalog(spark, sf_dir).events
    firsts = (ev.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
              .localCheckpoint(eager=False))  # feeds sizes AND cells
    activity = (ev.select("user_id",
                          F.date_trunc("week", F.col("ts"))
                          .alias("active_week"))
                .distinct())
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    weeks_since = (F.datediff(F.col("active_week").cast("date"),
                              F.col("cohort_week").cast("date"))
                   / 7).cast("long")
    cells = (firsts.join(activity, "user_id")
             .groupBy("cohort_week", weeks_since.alias("weeks_since"))
             .agg(F.count(F.lit(1)).alias("n_active")))
    return (cells.join(sizes, "cohort_week")
            .select(F.col("cohort_week").cast("date").alias("cohort_week"),
                    "weeks_since", "cohort_size", "n_active",
                    F.expr("n_active * 1000000L div cohort_size")
                    .alias("retention_micros"))
            .orderBy("cohort_week", "weeks_since"))


@query(
    "attribution_time_decay",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id AS purchase_id,
               CAST(ts AS TIMESTAMP) AS pts
        FROM events WHERE event_type = 'purchase'
    ), t AS (
        SELECT user_id, event_type, event_id,
               CAST(ts AS TIMESTAMP) AS tts
        FROM events WHERE event_type <> 'purchase'
    ), credits AS (
        SELECT p.purchase_id, t.event_type, t.tts, t.event_id,
               (epoch_us(p.pts) - epoch_us(t.tts)) // 86400000000
                   AS age_days
        FROM p JOIN t ON t.user_id = p.user_id
         AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 7 DAY
    ), raw AS (
        SELECT purchase_id, event_type, tts, event_id,
               (1 << (6 - age_days)) AS w_raw,
               SUM(1 << (6 - age_days))
                   OVER (PARTITION BY purchase_id) AS sw,
               ROW_NUMBER() OVER (PARTITION BY purchase_id
                                  ORDER BY tts DESC, event_id DESC)
                   AS rn_recent
        FROM credits
    ), floored AS (
        SELECT purchase_id, event_type, rn_recent,
               w_raw * 1000000 // sw AS w_floor,
               SUM(w_raw * 1000000 // sw)
                   OVER (PARTITION BY purchase_id) AS sum_floor
        FROM raw
    )
    SELECT event_type AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(w_floor + CASE WHEN rn_recent = 1
                                   THEN 1000000 - sum_floor
                                   ELSE 0 END) AS BIGINT)
               AS total_weight_micros
    FROM floored
    GROUP BY event_type
    ORDER BY touch_type
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY multi-touch attribution — the third member of the
    attribution family (last-touch carry, U-shaped position, now
    recency decay): each qualifying touch in the 7-day lookback gets
    raw weight 2^(6 − age_days) — a half-life of one day expressed as
    an exact power-of-two integer, no float pow anywhere — and each
    purchase's credit normalizes to exactly 10⁶ micros by floor
    division with the remainder assigned to the MOST RECENT touch
    (the convention decay already favors; per-purchase sums are
    exactly 10⁶, the proration discipline). Same user-keyed
    purchase×touch join shape as the position-based operator; the
    decay weighting is scan-level arithmetic on the same exchange.
    """
    from pyspark.sql import Window as W

    ev = Catalog(spark, sf_dir).events
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", F.col("event_id").alias("purchase_id"),
                 F.col("ts").alias("pts")))
    t = (ev.filter(F.col("event_type") != "purchase")
         .select(F.col("user_id").alias("t_user"), "event_type",
                 "event_id", F.col("ts").alias("tts")))
    age = ((F.unix_micros(F.col("pts")) - F.unix_micros(F.col("tts")))
           / F.lit(86_400_000_000)).cast("long")
    credits = (p.join(
        t, (F.col("t_user") == F.col("user_id"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 7 DAY")))
        .withColumn("age_days", age))
    wp = W.partitionBy("purchase_id")
    raw = (credits
           .withColumn("w_raw", F.expr("shiftleft(1L, "
                                       "CAST(6 - age_days AS INT))"))
           .withColumn("sw", F.sum("w_raw").over(wp))
           .withColumn("rn_recent", F.row_number().over(
               wp.orderBy(F.col("tts").desc(), F.col("event_id").desc()))))
    floored = (raw
               .withColumn("w_floor", F.expr("w_raw * 1000000L div sw"))
               .withColumn("sum_floor", F.sum("w_floor").over(wp)))
    w_final = (F.col("w_floor")
               + F.when(F.col("rn_recent") == 1,
                        F.lit(1_000_000) - F.col("sum_floor"))
               .otherwise(F.lit(0)))
    return (floored.withColumn("w_final", w_final)
            .groupBy(F.col("event_type").alias("touch_type"))
            .agg(F.count(F.lit(1)).alias("n_credits"),
                 F.sum("w_final").alias("total_weight_micros"))
            .orderBy("touch_type"))


@query(
    "bootstrap_ci_daily_mean",
    oracle=f"""
    WITH days AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), idx AS (
        SELECT d, cents,
               ROW_NUMBER() OVER (ORDER BY d) - 1 AS i,
               COUNT(*) OVER () AS n
        FROM days
    ), draws AS (
        SELECT b.b, t.j,
               CAST(('0x' || substring(
                   md5(CAST(b.b AS VARCHAR) || '-'
                       || CAST(t.j AS VARCHAR)), 1, 8))::UBIGINT
                   % (SELECT any_value(n) FROM idx) AS BIGINT) AS pick
        FROM (SELECT unnest(generate_series(0, 199)) AS b) b,
             (SELECT unnest(generate_series(
                  0, (SELECT CAST(any_value(n) AS INTEGER) - 1
                      FROM idx))) AS j) t
    ), resampled AS (
        SELECT dr.b,
               CAST(SUM(i.cents) AS BIGINT) AS total_cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM draws dr JOIN idx i ON i.i = dr.pick
        GROUP BY dr.b
    ), means AS (
        SELECT b, total_cents // n AS mean_cents,
               ROW_NUMBER() OVER (ORDER BY total_cents // n, b) AS rk,
               COUNT(*) OVER () AS nb
        FROM resampled
    )
    SELECT CAST((SELECT any_value(n) FROM idx) AS BIGINT) AS n_days,
           CAST(200 AS BIGINT) AS n_resamples,
           CAST(MAX(CASE WHEN rk = 5 THEN mean_cents END) AS BIGINT)
               AS ci_lo_cents,
           CAST(MAX(CASE WHEN rk = 195 THEN mean_cents END) AS BIGINT)
               AS ci_hi_cents
    FROM means
    """,
)
def bootstrap_ci_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean daily revenue — the
    distribution-free error bar, made ENGINE-REPRODUCIBLE: the B=200
    resamples draw their day indices from md5(b, j) (the module's
    hash-randomness idiom — no RNG state, every engine and re-run
    agrees on every draw), resample means are floor-divided cents,
    and the 95% interval is the nearest-rank [5th, 195th] of the
    sorted resample means. Deterministic bootstrap is the honest
    compromise when exact distribution theory is out of reach and
    nondeterministic sampling would break the bit-exactness contract.

    Scale: the resample space is B × n_days rows at DAY grain (192k
    at a year of days), never touching the fact table again after
    the one daily rollup — bootstrap cost is independent of order
    volume. The rank walk runs over B rows.

    Null semantics (null_sweep audit): undated orders are excluded
    on both engines — the resample index space is a function of the
    day ORDERING, and a NULL day sits at opposite ends of the two
    engines' defaults. Days whose every price is null keep a NULL
    cents consistently (SUM skips nulls in both).
    """
    o = Catalog(spark, sf_dir).orders.filter(
        F.col("o_orderdate").isNotNull())
    days = (o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
            .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                       .cast("long")).alias("cents")))
    # Checkpoint the indexed day table: it feeds the row-count scalar,
    # the draw index space, AND the resample join — without this the
    # orders rollup re-derives once per reference (caught by
    # test_bootstrap_touches_orders_once).
    idx = (days
           .withColumn("i", F.row_number().over(W.orderBy("d")) - 1)
           .withColumn("n", F.count(F.lit(1)).over(
               W.rowsBetween(W.unboundedPreceding,
                             W.unboundedFollowing)))
           .localCheckpoint(eager=False))
    nrow = idx.select(F.first("n").alias("n"))
    b = spark.range(200).select(F.col("id").alias("b"))
    j = (idx.select(F.col("i").alias("j")))
    pick = (F.conv(F.substring(
        F.md5(F.concat_ws("-", F.col("b"), F.col("j"))), 1, 8), 16, 10)
        .cast("long") % F.col("n"))
    draws = (b.crossJoin(j).crossJoin(F.broadcast(nrow))
             .select("b", pick.alias("pick")))
    resampled = (draws.join(idx.select("i", "cents"),
                            draws.pick == F.col("i"))
                 .groupBy("b")
                 .agg(F.sum("cents").alias("total_cents"),
                      F.count(F.lit(1)).alias("n")))
    means = (resampled
             .select("b", F.expr("total_cents div n").alias("mean_cents"))
             .withColumn("rk", F.row_number().over(
                 W.orderBy("mean_cents", "b"))))
    return (means.crossJoin(F.broadcast(nrow))
            .agg(F.first("n").cast("long").alias("n_days"),
                 F.lit(200).cast("long").alias("n_resamples"),
                 F.max(F.when(F.col("rk") == 5, F.col("mean_cents")))
                 .alias("ci_lo_cents"),
                 F.max(F.when(F.col("rk") == 195, F.col("mean_cents")))
                 .alias("ci_hi_cents")))


@query(
    "order_backlog_daily",
    oracle="""
    WITH lifecycle AS (
        SELECT o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS open_day,
               CAST(MAX(l.l_shipdate) AS DATE) + 1 AS close_day
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate IS NOT NULL
        GROUP BY o.o_orderkey, o.o_orderdate
    ), b AS (
        SELECT open_day AS day, 1 AS d FROM lifecycle
        UNION ALL
        SELECT close_day AS day, -1 AS d FROM lifecycle
        WHERE close_day IS NOT NULL
    ), g AS (
        SELECT day, SUM(d) AS delta,
               SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS n_opened,
               SUM(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS n_closed
        FROM b GROUP BY day
    )
    SELECT day,
           CAST(n_opened AS BIGINT) AS n_opened,
           CAST(n_closed AS BIGINT) AS n_closed,
           CAST(SUM(delta) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS backlog
    FROM g
    ORDER BY day
    """,
)
def order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog by day — the fulfillment-ops curve: an
    order is OPEN from its order date until the day after its last
    line ships (the lifecycle interval derived from the fact join,
    one aggregate), and the daily backlog is the sweep-line running
    sum of +1/-1 boundaries at DAY grain — the
    ``concurrent_sessions_peak`` idiom applied to order lifecycles,
    here keeping the whole curve rather than its peak. Opens and
    closes per day ride the same boundary aggregate.

    One orderkey-keyed join+aggregate for lifecycles (co-located if
    read from the bucketed layout), then day-grain rows — thousands
    of rows regardless of order volume; the ordered walk is the
    two-level prefix sum at cluster scale.

    Null semantics (null_sweep audit): undated orders cannot enter
    the sweep and are excluded; an order whose every line has a null
    ship date has no observed close — it opens normally and stays in
    the backlog forever (its close boundary is dropped on both
    engines), the sweep-line reading of a missing end bound. MAX
    skips null ship dates identically in both engines, so a
    partially-shipped order closes after its last OBSERVED ship.
    """
    cat = Catalog(spark, sf_dir)
    o, li = cat.orders.filter(F.col("o_orderdate").isNotNull()), \
        cat.lineitem
    lifecycle = (o.join(li, o.o_orderkey == li.l_orderkey)
                 .groupBy("o_orderkey",
                          F.col("o_orderdate").cast("date")
                          .alias("open_day"))
                 .agg(F.date_add(F.max(F.col("l_shipdate").cast("date")),
                                 1).alias("close_day")))
    b = lifecycle.select(F.explode(F.array(
        F.struct(F.col("open_day").alias("day"), F.lit(1).alias("d")),
        F.struct(F.col("close_day").alias("day"),
                 F.lit(-1).alias("d")))).alias("bd")) \
        .select("bd.day", "bd.d") \
        .filter(F.col("day").isNotNull())
    g = (b.groupBy("day")
         .agg(F.sum("d").alias("delta"),
              F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
              .alias("n_opened"),
              F.sum(F.when(F.col("d") == -1, 1).otherwise(0))
              .alias("n_closed")))
    run = F.sum("delta").over(
        W.orderBy("day").rowsBetween(W.unboundedPreceding, 0))
    return (g.select("day",
                     F.col("n_opened").cast("long").alias("n_opened"),
                     F.col("n_closed").cast("long").alias("n_closed"),
                     run.cast("long").alias("backlog"))
            .orderBy("day"))


#: K=20-truncated EWMA weights with dyadic alpha = 1/2: the k-th lag's
#: weight is 2^-(k+1); scaling everything by 2^20 makes every term an
#: exact BIGINT product (y_{d-k} * 2^(19-k)), the bounded 20-term sum
#: an exact integer add regardless of order, and the final /2^20 a
#: pure exponent shift (no rounding) — the design that lets an EWMA
#: carry a bit-exact cross-engine oracle at all. An untruncated
#: exponential smoothing has no order-independent float form.
_EWMA_K = 20
_EWMA_TERMS_SQL = " + ".join(
    ["COALESCE(y, 0) * 524288"]
    + [f"COALESCE(LAG(y, {k}) OVER w, 0) * {1 << (_EWMA_K - 1 - k)}"
       for k in range(1, _EWMA_K)])


@query(
    "ewma_k20_daily_revenue",
    oracle=f"""
    WITH {_DAILY_REVENUE_SQL}
    SELECT d, y,
           CAST({_EWMA_TERMS_SQL} AS BIGINT) AS ewma_scaled,
           CAST({_EWMA_TERMS_SQL} AS BIGINT) / 1048576e0 AS ewma
    FROM daily
    WINDOW w AS (ORDER BY d)
    """,
)
def ewma_k20_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue,
    truncated at K=20 lags with dyadic alpha=1/2 (see _EWMA_TERMS_SQL
    for why this is the exactly-oracleable EWMA): the smoothing curve
    behind revenue dashboards, with missing leading lags contributing
    zero (truncation at series start) and a NULL day's revenue
    treated as zero on both engines.

    The series is day-grain — bounded by the calendar (a few thousand
    rows at ANY corpus scale), so the global ordered window is
    metadata-sized; the only big-data work is the one groupBy
    producing the daily series. The 20 lags evaluate in a single
    Window operator over one sort.
    """
    daily = _daily_revenue(Catalog(spark, sf_dir))
    w = W.orderBy("d")
    scaled = F.coalesce(F.col("y"), F.lit(0)) * F.lit(1 << (_EWMA_K - 1))
    for k in range(1, _EWMA_K):
        scaled = scaled + (F.coalesce(F.lag("y", k).over(w), F.lit(0))
                           * F.lit(1 << (_EWMA_K - 1 - k)))
    return daily.select(
        "d", "y",
        scaled.cast("long").alias("ewma_scaled"),
        (scaled.cast("long").cast("double") / F.lit(float(1 << _EWMA_K)))
        .alias("ewma"))
