"""Data-quality / constraint-audit operators.

Spark has no declarative PK/FK/CHECK enforcement — at warehouse scale
constraints are *audited*, not enforced: periodic queries that count
violations per rule and gate downstream consumption. This module is
that layer, the validation step an ingest pipeline runs before
promoting a batch.

Scale shape: per-table row rules are FUSED into one scan per table
(one agg computing every count_if — the profiler's trick, not one
pass per rule); referential rules are anti-join counts (dim side
broadcast when bounded, shuffle on the key otherwise). The audit's
total cost is one scan of each fact table plus the key joins —
independent of how many row rules are registered.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..catalog import Catalog
from . import query


def _checks_to_rows(df: DataFrame, **rules) -> DataFrame:
    """One scan: aggregate every rule's violation count + the row
    count, then explode to (check, n_bad, n_checked) rows."""
    # coalesce: a violation COUNT over an empty batch is 0, but SUM
    # over zero rows is NULL (the empty_sweep class) — the audit must
    # report 0 violations, not an unknown.
    aggs = [F.count(F.lit(1)).alias("__n")]
    aggs += [F.coalesce(F.sum(c.cast("long")), F.lit(0)).alias(k)
             for k, c in rules.items()]
    one = df.agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(k).alias("check"), F.col(k).alias("n_bad"))
        for k in rules
    ])
    return (one.select(F.explode(pairs).alias("p"), F.col("__n").alias("n_checked"))
            .select("p.check", "p.n_bad", "n_checked"))


@query(
    "dq_constraint_audit",
    oracle="""
    SELECT 'lineitem_discount_range' AS check,
           CAST(COUNT(*) FILTER (l_discount < 0 OR l_discount > 0.1) AS BIGINT) AS n_bad,
           CAST(COUNT(*) AS BIGINT) AS n_checked
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_positive_measures',
           CAST(COUNT(*) FILTER (l_quantity <= 0 OR l_extendedprice <= 0 OR l_tax < 0) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_totalprice_positive',
           CAST(COUNT(*) FILTER (o_totalprice <= 0) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_orderdate_not_null',
           CAST(COUNT(*) FILTER (o_orderdate IS NULL) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_fk_customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'customer_pk_unique',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
             (SELECT c_custkey FROM customer GROUP BY c_custkey
              HAVING COUNT(*) > 1)),
           CAST(COUNT(*) AS BIGINT)
    FROM customer
    """,
)
def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit over the warehouse: range/sign/null row rules,
    FK orphan counts, PK uniqueness — one (check, n_bad, n_checked)
    row per rule.

    Row rules share one scan per table (`_checks_to_rows` fuses every
    count_if into a single aggregate — adding a rule adds a column,
    not a pass). FK rules are LEFT joins with count_if(key IS NULL),
    which yields the orphan count and n_checked in the same pass (an
    anti-join would need a second scan just to count rows); the key
    side is deduplicated so a duplicated PK can never inflate the fact
    count. The customer FK broadcasts the bounded dim's key column;
    the lineitem→orders check is fact-to-fact on the join key, the
    one genuinely shuffle-bound rule — at 100 TB you run it on the
    same bucketing/clustering layout the join workload already uses
    (see `sources/bucketed.py`) and it becomes co-located.
    """
    cat = Catalog(spark, sf_dir)
    li, orders, cust = cat.lineitem, cat.orders, cat.customer

    li_rows = _checks_to_rows(
        li,
        lineitem_discount_range=(F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
        lineitem_positive_measures=(F.col("l_quantity") <= 0)
        | (F.col("l_extendedprice") <= 0) | (F.col("l_tax") < 0),
    )
    ord_rows = _checks_to_rows(
        orders,
        orders_totalprice_positive=F.col("o_totalprice") <= 0,
        orders_orderdate_not_null=F.col("o_orderdate").isNull(),
    )
    # FK checks: LEFT join + count_if(key IS NULL) yields the orphan
    # count AND the row count in one pass over the fact — an anti-join
    # formulation would need a second scan just for n_checked.
    orphan_orders = (
        orders.select("o_custkey")
        .join(F.broadcast(cust.select(F.col("c_custkey").alias("__ck")).distinct()),
              F.col("o_custkey") == F.col("__ck"), "left")
        .agg(F.coalesce(F.sum(F.col("__ck").isNull().cast("long")),
                        F.lit(0)).alias("n_bad"),
             F.count(F.lit(1)).alias("n_checked"))
        .select(F.lit("orders_fk_customer").alias("check"), "n_bad", "n_checked")
    )
    orphan_li = (
        li.select("l_orderkey")
        .join(orders.select(F.col("o_orderkey").alias("__ok")).distinct(),
              F.col("l_orderkey") == F.col("__ok"), "left")
        .agg(F.coalesce(F.sum(F.col("__ok").isNull().cast("long")),
                        F.lit(0)).alias("n_bad"),
             F.count(F.lit(1)).alias("n_checked"))
        .select(F.lit("lineitem_fk_orders").alias("check"), "n_bad", "n_checked")
    )
    # PK uniqueness: one aggregation gives duplicate-key count AND the
    # row count (sum of group sizes).
    dup_cust = (
        cust.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("k"))
        .agg(F.coalesce(F.sum((F.col("k") > 1).cast("long")),
                        F.lit(0)).alias("n_bad"),
             F.coalesce(F.sum("k"), F.lit(0)).alias("n_checked"))
        .select(F.lit("customer_pk_unique").alias("check"), "n_bad", "n_checked")
    )
    return (li_rows.unionByName(ord_rows).unionByName(orphan_orders)
            .unionByName(orphan_li).unionByName(dup_cust))


@query(
    "dq_null_ratio_profile",
    oracle="""
    SELECT 'o_orderdate' AS col,
           CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT) AS n_null,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderdate) AS DOUBLE) / COUNT(*) AS null_ratio
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS DOUBLE) / COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_totalprice) AS DOUBLE) / COUNT(*)
    FROM orders
    """,
)
def dq_null_ratio_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-ratio profile for selected columns — one scan (single agg,
    exploded to rows), the completeness half of the DQ gate. The
    documents-table twin with min/max/distinct is
    ``profile_documents_table``; this one is the narrow per-batch
    check an ingest gate runs on arrival.
    """
    orders = Catalog(spark, sf_dir).orders
    cols = ["o_orderdate", "o_orderpriority", "o_totalprice"]
    agg = orders.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(c).alias(c) for c in cols])
    pairs = F.array(*[
        F.struct(F.lit(c).alias("col"),
                 (F.col("__n") - F.col(c)).alias("n_null"))
        for c in cols])
    # try_divide: over an EMPTY batch n_rows = 0 and ANSI division
    # throws; DuckDB's x/0 is NULL, so the ratio is NULL-on-empty on
    # both engines (the empty_sweep class — an ingest gate must
    # survive an empty arrival).
    return (agg.select(F.explode(pairs).alias("p"), F.col("__n").alias("n_rows"))
            .select("p.col", "p.n_null", "n_rows",
                    F.try_divide(F.col("p.n_null").cast("double"),
                                 F.col("n_rows")).alias("null_ratio")))


@query(
    "dq_accepted_values",
    oracle="""
    SELECT 'lineitem_returnflag_domain' AS check,
           CAST(COUNT(*) FILTER (l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT)
               AS n_bad,
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_checked
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_linestatus_domain',
           CAST(COUNT(*) FILTER (l_linestatus NOT IN ('O', 'F')) AS BIGINT),
           CAST(COUNT(DISTINCT l_linestatus) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_orderstatus_domain',
           CAST(COUNT(*) FILTER (o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'events_event_type_domain',
           CAST(COUNT(*) FILTER (event_type NOT IN
                ('click', 'view', 'purchase', 'signup'))
                AS BIGINT),
           CAST(COUNT(DISTINCT event_type) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM events
    """,
)
def dq_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accepted-values (categorical domain) audit — the dbt-style
    rule that a low-cardinality column only takes values from its
    declared domain, plus the observed distinct count (a domain
    column quietly growing new values is the classic silent schema
    drift — here the declared domain deliberately omits the 'error'
    type the feed actually emits, so the audit demonstrably bites). One fused agg per table: each rule is a count_if over
    the same scan, and the distinct counts ride the same aggregate —
    adding a rule never adds a scan. Shuffles carry one partial row
    per task."""
    cat = Catalog(spark, sf_dir)

    def table_row(df, check, col, domain):
        dom = [F.lit(v) for v in domain]
        # coalesce: 0 violations over an empty batch, not a NULL SUM
        # (the empty_sweep class — both engines previously "agreed"
        # on the wrong NULL, the vacuous-agreement lesson).
        return df.agg(
            F.lit(check).alias("check"),
            F.coalesce(F.sum((~F.col(col).isin(*dom)).cast("long")),
                       F.lit(0)).alias("n_bad"),
            F.countDistinct(col).alias("n_distinct"),
            F.count(F.lit(1)).alias("n_checked"))

    li = cat.lineitem
    return (
        table_row(li, "lineitem_returnflag_domain", "l_returnflag",
                  ("A", "N", "R"))
        .unionByName(table_row(li, "lineitem_linestatus_domain",
                               "l_linestatus", ("O", "F")))
        .unionByName(table_row(cat.orders, "orders_orderstatus_domain",
                               "o_orderstatus", ("O", "F", "P")))
        .unionByName(table_row(cat.events, "events_event_type_domain",
                               "event_type",
                               ("click", "view", "purchase", "signup")))
    )


@query(
    "order_line_reconciliation",
    oracle="""
    WITH line_sums AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 100) AS BIGINT))
                    AS BIGINT) AS lines_cents
        FROM lineitem GROUP BY l_orderkey
    ), recon AS (
        SELECT o.o_orderkey,
               ABS(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                   - ls.lines_cents) AS diff_cents
        FROM orders o JOIN line_sums ls ON ls.l_orderkey = o.o_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (diff_cents = 0) AS BIGINT) AS n_exact,
           CAST(COUNT(*) FILTER (diff_cents > 0 AND diff_cents <= 100) AS BIGINT)
               AS n_within_dollar,
           CAST(COUNT(*) FILTER (diff_cents > 100) AS BIGINT) AS n_beyond_dollar,
           CAST(max(diff_cents) AS BIGINT) AS max_diff_cents
    FROM recon
    """,
)
def order_line_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: does each order header's total
    equal the recomputed sum of its lines (extprice·(1−disc)·(1+tax))?
    The classic financial-close audit — header/detail drift is how
    silent ingestion corruption usually surfaces. Per-line amounts go
    through cents fixed-point BEFORE the per-order sum, so the
    comparison is exact integers and the mismatch buckets (exact /
    within-a-dollar / beyond) are bit-deterministic.

    Scale: one per-order aggregate over lineitem (map-side combined)
    + one key join against headers — the same orderkey partitioning
    the join workload already uses (bucket both sides and the audit
    is co-located, shuffle-free). Tolerance buckets, not a boolean:
    legitimate per-line rounding differs from real corruption by
    magnitude, and the audit should say which it saw.
    """
    cat = Catalog(spark, sf_dir)
    line_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                         * (1 + F.col("l_tax")) * 100).cast("long")
    line_sums = (cat.lineitem
                 .groupBy("l_orderkey")
                 .agg(F.sum(line_cents).alias("lines_cents")))
    diff = F.abs(F.round(F.col("o_totalprice") * 100).cast("long")
                 - F.col("lines_cents"))
    recon = (cat.orders.select("o_orderkey", "o_totalprice")
             .join(line_sums, F.col("l_orderkey") == F.col("o_orderkey"))
             .select(diff.alias("diff_cents")))
    # coalesce: the tolerance buckets are COUNTS — 0 over an empty
    # close, not NULL SUMs (the empty_sweep class); max stays
    # NULL-on-empty on both engines.
    return recon.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.coalesce(F.sum((F.col("diff_cents") == 0).cast("long")),
                   F.lit(0)).alias("n_exact"),
        F.coalesce(F.sum(((F.col("diff_cents") > 0)
                          & (F.col("diff_cents") <= 100)).cast("long")),
                   F.lit(0)).alias("n_within_dollar"),
        F.coalesce(F.sum((F.col("diff_cents") > 100).cast("long")),
                   F.lit(0)).alias("n_beyond_dollar"),
        F.max("diff_cents").alias("max_diff_cents"))


@query(
    "leading_digit_profile",
    oracle="""
    WITH d AS (
        SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                              1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice >= 1
    )
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
               / (SELECT COUNT(*) FROM d) AS share
    FROM d GROUP BY digit
    """,
)
def leading_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford-style leading-digit profile of order totals — the
    forensic data-quality screen: fabricated or unit-mangled money
    columns show uniform-ish first digits where organic multiplicative
    data skews low (Benford). The engine emits the observed digit
    distribution (counts + exact-ratio shares); judging against the
    log-curve is the analyst's monotone step and deliberately not
    computed here — log10 is libm territory and the counts carry all
    the information. One lazy plan: the denominator is a 1-row
    aggregate broadcast-cross-joined into the digit rows (the
    max_day/ref pattern from timeseries) — no eager count() at
    build time, no stale share if the table changes underneath.
    """
    o = Catalog(spark, sf_dir).orders
    d = (o.filter(F.col("o_totalprice") >= 1)
         .select(F.substring(F.floor("o_totalprice").cast("bigint")
                             .cast("string"), 1, 1).cast("int").alias("digit")))
    total = d.agg(F.count(F.lit(1)).alias("total"))
    return (d.groupBy("digit")
            .agg(F.count(F.lit(1)).alias("n"))
            .crossJoin(F.broadcast(total))
            .select("digit", "n",
                    (F.col("n").cast("double")
                     / F.col("total").cast("double")).alias("share")))


@query(
    "mad_outlier_census",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), med AS (
        SELECT event_type, median(cents) AS med_cents
        FROM c GROUP BY event_type
    ), dev AS (
        SELECT c.event_type, c.cents,
               abs(c.cents - med.med_cents) AS adev
        FROM c JOIN med USING (event_type)
    ), mad AS (
        SELECT event_type, median(adev) AS mad_cents
        FROM dev GROUP BY event_type
    )
    SELECT dev.event_type,
           CAST(any_value(med.med_cents) AS DOUBLE) / 100.0
               AS median_value,
           CAST(any_value(mad.mad_cents) AS DOUBLE) / 100.0 AS mad_value,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type) JOIN med USING (event_type)
    GROUP BY dev.event_type
    """,
)
def mad_outlier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census via Median Absolute Deviation — the
    screen that survives the contamination it is looking for (mean/
    stddev move with every outlier; median/MAD have a 50% breakdown
    point). Per event type: median, MAD, and the count of values
    beyond the 3-MAD fence.

    Determinism: values go to integer cents, so every median is an
    interpolated midpoint of integers (exactly representable — .5
    then .25 steps), |x − med| and the 3×MAD fence stay in exact
    binary fractions, and the comparison agrees bit-for-bit across
    engines. Plan: two aggregate passes (median, then MAD over
    deviations) with 1-row-per-group broadcasts between them — the
    inherent two-pass structure of MAD, each pass one exchange on
    event_type.
    """
    from ..functions.exact import cents as cents_
    ev = Catalog(spark, sf_dir).events
    c = ev.select("event_type", cents_(F.col("value")).alias("cents"))
    med = c.groupBy("event_type").agg(F.median("cents").alias("med_cents"))
    dev = (c.join(F.broadcast(med), "event_type")
           .select("event_type", "cents",
                   F.abs(F.col("cents") - F.col("med_cents")).alias("adev")))
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad_cents"))
    return (dev.join(F.broadcast(mad), "event_type")
            .join(F.broadcast(med), "event_type")
            .groupBy("event_type")
            .agg((F.first("med_cents") / 100.0).alias("median_value"),
                 (F.first("mad_cents") / 100.0).alias("mad_value"),
                 F.count(F.lit(1)).alias("n_rows"),
                 F.sum((F.col("adev") > 3 * F.col("mad_cents"))
                       .cast("long")).alias("n_outliers")))


@query(
    "functional_dependency_audit",
    oracle="""
    WITH f1 AS (
        SELECT COUNT(DISTINCT o_orderdate) AS nd
        FROM orders GROUP BY o_orderkey
    ), f2 AS (
        SELECT COUNT(DISTINCT o_orderstatus) AS nd
        FROM orders GROUP BY o_custkey
    ), f3 AS (
        SELECT COUNT(DISTINCT o_orderpriority) AS nd
        FROM orders GROUP BY o_orderdate
    )
    SELECT 'o_orderkey->o_orderdate' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
           CAST(MAX(nd) AS BIGINT) AS max_rhs_distinct,
           CAST(MAX(nd) <= 1 AS BIGINT) AS holds
    FROM f1
    UNION ALL
    SELECT 'o_custkey->o_orderstatus',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MAX(nd) AS BIGINT), CAST(MAX(nd) <= 1 AS BIGINT)
    FROM f2
    UNION ALL
    SELECT 'o_orderdate->o_orderpriority',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MAX(nd) AS BIGINT), CAST(MAX(nd) <= 1 AS BIGINT)
    FROM f3
    """,
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency validation — the schema-profiling
    primitive behind normalization checks and dbt `unique`-pair
    tests: for each candidate FD A -> B, does every A-group carry
    exactly one B value? Reports group counts, violating-group
    counts, and the worst per-group RHS cardinality for three
    candidates spanning the expected outcomes: the PK dependency
    (holds by construction), a customer->status dependency (violated
    — customers reorder with different statuses), and a
    date->priority dependency (violated — priorities mix daily).

    Per candidate: one hash aggregation on the LHS (COUNT DISTINCT of
    a tiny RHS domain partial-aggregates map-side) then a 1-row
    rollup — each audit shuffles group cardinality, never rows. The
    three candidates scan the table independently; a production
    profiler fuses same-LHS candidates into one pass (the
    ``dq_constraint_audit`` fusion pattern).
    """
    o = Catalog(spark, sf_dir).orders

    def audit(lhs: str, rhs: str) -> DataFrame:
        g = o.groupBy(lhs).agg(F.countDistinct(rhs).alias("nd"))
        return (g.agg(
            F.count(F.lit(1)).alias("n_lhs_groups"),
            F.sum((F.col("nd") > 1).cast("long"))
            .alias("n_violating_groups"),
            F.max("nd").alias("max_rhs_distinct"),
            (F.max("nd") <= 1).cast("long").alias("holds"))
            .select(F.lit(f"{lhs}->{rhs}").alias("fd"), "*"))

    return (audit("o_orderkey", "o_orderdate")
            .unionByName(audit("o_custkey", "o_orderstatus"))
            .unionByName(audit("o_orderdate", "o_orderpriority")))


@query(
    "score_auc_exact",
    oracle="""
    WITH s AS (
        SELECT n_chars AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos
        FROM documents
        WHERE n_chars IS NOT NULL
    ), pv AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(is_pos) AS BIGINT) AS k1
        FROM s GROUP BY score
    ), r AS (
        SELECT score, k, k1,
               SUM(k) OVER (ORDER BY score) AS cum,
               COALESCE(SUM(k) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS cum_before
        FROM pv
    ), agg AS (
        SELECT CAST(SUM(k1 * (CAST(cum_before AS BIGINT)
                              + CAST(cum AS BIGINT) + 1)) AS BIGINT)
                   AS r1_x2,
               CAST(SUM(k1) AS BIGINT) AS n_pos,
               CAST(SUM(k - k1) AS BIGINT) AS n_neg
        FROM r
    )
    SELECT n_pos, n_neg,
           r1_x2 - n_pos * (n_pos + 1) AS u_pos_x2,
           CAST(CAST(r1_x2 - n_pos * (n_pos + 1) AS HUGEINT) * 1000000
                // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
               AS auc_micros
    FROM agg
    """,
)
def score_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC AUC of a scalar score against a binary label — the
    classifier-evaluation primitive, here grading "does raw document
    length predict English?" (score = n_chars, positive = lang='en').

    AUC is the probability a random positive outranks a random
    negative, which is the Mann-Whitney statistic normalized:
    AUC = U_pos / (n_pos * n_neg) with midranks under ties. The
    engine reuses the doubled-midrank lane proved out by
    ``mannwhitney_u_value_drift`` (midrank*2 = rank_before +
    rank_after + 1 summed over the tied block), so R1*2 and U*2 are
    exact integers and auc_micros = U*2 * 10^6 div (2*n_pos*n_neg)
    hash-verifies with ZERO float ops — ties (heavily present: score
    is an integer length) handled exactly, not by tie-breaking luck.

    Plan: one grouped pass per distinct score, one ordered cumulative
    walk over the score domain (the distinct-value relation, not the
    corpus; at 100 TB the walk's single-partition window is bounded
    by score cardinality and the KS operator's binning remedy
    applies), then a 1-row aggregate.
    """
    from pyspark.sql import Window as W

    d = Catalog(spark, sf_dir).documents
    # Label nulls are NEGATIVES (coalesce 0), matching the oracle's
    # CASE ELSE 0: a bare (lang == 'en') cast yields NULL for a null
    # lang, and a score group that is ALL null-label then sums to a
    # NULL k1 that silently drops the group (null_sweep audit class).
    s = (d.filter(F.col("n_chars").isNotNull())
         .select(F.col("n_chars").alias("score"),
                 F.coalesce((F.col("lang") == "en").cast("long"),
                            F.lit(0)).alias("is_pos")))
    pv = s.groupBy("score").agg(F.count(F.lit(1)).alias("k"),
                                F.sum("is_pos").alias("k1"))
    w = W.orderBy("score")
    r = (pv.withColumn("cum", F.sum("k").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)))
         .withColumn("cum_before", F.coalesce(
             F.sum("k").over(w.rowsBetween(W.unboundedPreceding, -1)),
             F.lit(0))))
    agg = r.agg(
        F.sum(F.col("k1") * (F.col("cum_before") + F.col("cum") + 1))
        .alias("r1_x2"),
        F.sum("k1").alias("n_pos"),
        F.sum(F.col("k") - F.col("k1")).alias("n_neg"))
    return agg.select(
        "n_pos", "n_neg",
        F.expr("r1_x2 - n_pos * (n_pos + 1)").alias("u_pos_x2"),
        # 128-bit lane: U*2 ~ 2*n_pos*n_neg, so the 10^6 scaling
        # passes int64 once a (fold's) corpus holds ~4M documents.
        # One-class guard: AUC is undefined without both classes
        # (n_pos or n_neg = 0) — NULL like DuckDB's // 0, not an
        # ANSI throw (empty_sweep singleton tier).
        F.expr("CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE"
               " CAST(CAST(r1_x2 - n_pos * (n_pos + 1)"
               " AS DECIMAL(38,0)) * 1000000"
               " div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
               " AS BIGINT) END").alias("auc_micros"))


@query(
    "score_calibration_bins",
    oracle="""
    WITH base AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS is_pos
        FROM events
        WHERE value IS NOT NULL
    ), mx AS (
        SELECT CAST(MAX(cents) AS BIGINT) AS max_cents FROM base
    ), scored AS (
        SELECT CAST(b.cents * 1000000 // m.max_cents AS BIGINT)
                   AS pred_micros,
               b.is_pos
        FROM base b CROSS JOIN mx m
    ), binned AS (
        SELECT LEAST(9, pred_micros // 100000) AS bin,
               pred_micros, is_pos
        FROM scored
    ), per_bin AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(pred_micros) AS BIGINT) // COUNT(*)
                    AS BIGINT) AS mean_pred_micros,
               CAST(1000000 * CAST(SUM(is_pos) AS BIGINT) // COUNT(*)
                    AS BIGINT) AS obs_rate_micros
        FROM binned GROUP BY bin
    )
    SELECT bin, n, mean_pred_micros, obs_rate_micros,
           ABS(mean_pred_micros - obs_rate_micros) AS gap_micros,
           CAST(ABS(mean_pred_micros - obs_rate_micros) * n
                // SUM(n) OVER () AS BIGINT) AS ece_contrib_micros
    FROM per_bin
    ORDER BY bin
    """,
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability diagram for a [0,1]-scaled score —
    the companion to ``score_auc_exact`` (AUC measures ranking,
    calibration measures whether the score's VALUE means what it
    says). The demo score is event value min-max-scaled to micros
    (predicting "is this a purchase?"); production swaps in a model
    probability column unchanged.

    Ten equal-WIDTH bins over the predicted score (the standard
    reliability-diagram binning, and — unlike ntile's equal-count
    bins — a pure scan-level expression: no global sort, no
    single-partition window). Per bin: exact integer mean predicted
    score, observed positive rate, |gap|, and the bin's contribution
    to expected calibration error (ECE = Σ n_b/N · |gap_b|), every
    lane floor-div integer micros so both engines agree bitwise. The
    scale max is a broadcast 1-row aggregate inside the lazy plan
    (the ``leading_digit_profile`` remedy); the ECE denominator is a
    window SUM over the 10-row bin relation, not a second scan.
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).events
    base = (e.filter(F.col("value").isNotNull())
            .select(F.round(F.col("value") * 100).cast("long").alias("cents"),
                    (F.col("event_type") == "purchase").cast("long")
                    .alias("is_pos")))
    mx = base.agg(F.max("cents").alias("max_cents"))
    scored = (base.crossJoin(F.broadcast(mx))
              .select(F.expr("cents * 1000000 div max_cents")
                      .alias("pred_micros"), "is_pos"))
    binned = scored.select(
        F.least(F.lit(9), F.expr("pred_micros div 100000")).alias("bin"),
        "pred_micros", "is_pos")
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(pred_micros) div count(1)").alias("mean_pred_micros"),
        F.expr("1000000 * sum(is_pos) div count(1)").alias("obs_rate_micros"))
    gap = F.abs(F.col("mean_pred_micros") - F.col("obs_rate_micros"))
    return (per_bin
            .withColumn("gap_micros", gap)
            .withColumn("total_n",
                        F.sum("n").over(W.partitionBy(F.lit(1))))
            .withColumn("ece_contrib_micros",
                        F.expr("gap_micros * n div total_n"))
            .select("bin", "n", "mean_pred_micros", "obs_rate_micros",
                    "gap_micros", "ece_contrib_micros")
            .orderBy("bin"))


@query(
    "surrogate_key_gap_audit",
    oracle="""
    WITH keys AS (
        SELECT o_orderkey AS k FROM orders
    ), bounds AS (
        SELECT CAST(MIN(k) AS BIGINT) AS lo_key,
               CAST(MAX(k) AS BIGINT) AS hi_key
        FROM keys
    ), per_bucket AS (
        SELECT k // 100 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS n_present
        FROM keys GROUP BY k // 100
    ), all_buckets AS (
        SELECT unnest(generate_series(b.lo_key // 100, b.hi_key // 100))
                   AS bucket,
               b.lo_key, b.hi_key
        FROM bounds b
    ), audited AS (
        SELECT a.bucket,
               GREATEST(a.bucket * 100, a.lo_key) AS lo,
               LEAST(a.bucket * 100 + 99, a.hi_key) AS hi,
               LEAST(a.bucket * 100 + 99, a.hi_key)
               - GREATEST(a.bucket * 100, a.lo_key) + 1 AS expected,
               COALESCE(p.n_present, 0) AS n_present,
               COALESCE(p.n_rows, 0) AS n_rows,
               LEAST(a.bucket * 100 + 99, a.hi_key)
               - GREATEST(a.bucket * 100, a.lo_key) + 1
               - COALESCE(p.n_present, 0) AS n_missing,
               COALESCE(p.n_rows, 0) - COALESCE(p.n_present, 0)
                   AS n_dup_rows
        FROM all_buckets a LEFT JOIN per_bucket p USING (bucket)
    )
    SELECT bucket, lo, hi, expected, n_present,
           CAST(n_missing AS BIGINT) AS n_missing,
           CAST(n_dup_rows AS BIGINT) AS n_dup_rows
    FROM audited
    ORDER BY n_missing DESC, bucket
    LIMIT 5
    """,
)
def surrogate_key_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key continuity audit: find WHERE the key sequence
    has holes or duplicates — the ingest-integrity check that catches
    dropped batches (a gap) and replayed batches (duplicates) without
    ever sorting the key column globally. Keys are bucketed by
    k div 100; per bucket the expected population is the bucket's
    overlap with [min_key, max_key] (global bounds broadcast from a
    1-row aggregate), so missing = expected − distinct and
    dup_rows = rows − distinct are pure integer arithmetic on
    scan-level buckets. Top-5 worst buckets by missing keys.

    At 100 TB this is one hash aggregate on a derived bucket key —
    embarrassingly partial-aggregable — versus the naive
    lead(key)-over-global-sort plan whose single ordered partition is
    the exact shape the engine's determinism rules exist to avoid.
Bucket enumeration comes from the key RANGE
    (a sequence explode over the broadcast bounds), not from present
    keys, so an entirely-missing bucket is still reported.
    """
    o = Catalog(spark, sf_dir).orders.select(
        F.col("o_orderkey").alias("k"))
    bounds = o.agg(F.min("k").alias("lo_key"), F.max("k").alias("hi_key"))
    per_bucket = (o.groupBy(F.expr("k div 100").alias("bucket"))
                  .agg(F.count(F.lit(1)).alias("n_rows"),
                       F.countDistinct("k").alias("n_present")))
    # Enumerate EVERY bucket in the key range (sequence explode over
    # the 1-row bounds — keyspace/100-sized metadata), so a bucket
    # whose keys are ALL missing still gets an audit row; deriving
    # buckets from present keys alone would make a fully dropped
    # batch invisible — the audit's headline failure mode.
    all_buckets = (bounds.select(
        F.explode(F.sequence(F.expr("lo_key div 100"),
                             F.expr("hi_key div 100"))).alias("bucket"),
        "lo_key", "hi_key"))
    audited = (all_buckets.join(per_bucket, "bucket", "left")
               .withColumn("n_present",
                           F.coalesce(F.col("n_present"), F.lit(0)))
               .withColumn("n_rows",
                           F.coalesce(F.col("n_rows"), F.lit(0)))
               .withColumn("lo", F.greatest(F.col("bucket") * 100,
                                            F.col("lo_key")))
               .withColumn("hi", F.least(F.col("bucket") * 100 + 99,
                                         F.col("hi_key")))
               .withColumn("expected",
                           F.col("hi") - F.col("lo") + F.lit(1))
               .withColumn("n_missing",
                           (F.col("expected") - F.col("n_present"))
                           .cast("long"))
               .withColumn("n_dup_rows",
                           (F.col("n_rows") - F.col("n_present"))
                           .cast("long")))
    return (audited.select("bucket", "lo", "hi", "expected",
                           "n_present", "n_missing", "n_dup_rows")
            .orderBy(F.col("n_missing").desc(), "bucket")
            .limit(5))


@query(
    "impute_group_median",
    oracle="""
    WITH masked AS (
        SELECT event_type, event_id,
               CASE WHEN ('0x' || substring(md5(CAST(event_id AS VARCHAR)),
                          1, 4))::INTEGER % 20 = 0
                    THEN NULL
                    ELSE CAST(ROUND(value * 100) AS BIGINT) END AS x
        FROM events
    ), present AS (
        SELECT event_type, x,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY x, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM masked WHERE x IS NOT NULL
    ), med AS (
        SELECT event_type,
               MIN(CASE WHEN rn = CAST(FLOOR(0.5 * (n - 1)) AS BIGINT)
                             + 1 THEN x END) AS median_cents
        FROM present GROUP BY event_type
    )
    SELECT m.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (m.x IS NULL) AS BIGINT) AS n_imputed,
           CAST(any_value(d.median_cents) AS BIGINT) AS median_cents,
           CAST(CAST(SUM(COALESCE(m.x, d.median_cents)) AS BIGINT)
                AS BIGINT) AS imputed_sum_cents
    FROM masked m JOIN med d USING (event_type)
    GROUP BY m.event_type
    ORDER BY m.event_type
    """,
)
def impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation by group median — the ML-prep repair
    step between the NULL audit (``dq_null_ratio_profile``) and
    feature consumption: fill each missing value with its group's
    exact nearest-rank median and report the imputation audit
    (how many filled, with what, and the post-imputation sum a
    downstream reconciliation can pin). The fixture has no NULLs, so
    missingness is SIMULATED by a deterministic md5 gate (5% dropout,
    a pure function of event_id — both engines mask the same rows;
    production deletes the mask expression and keeps everything
    else).

    One rank window over present values per group, a per-group
    median broadcast back, one COALESCE scan — imputation never
    shuffles the fact table a second time.
    """
    from pyspark.sql import Window as W

    ev = Catalog(spark, sf_dir).events
    gate = (F.conv(F.substring(F.md5(F.col("event_id").cast("string")),
                               1, 4), 16, 10).cast("int") % 20 == 0)
    masked = ev.select(
        "event_type", "event_id",
        F.when(gate, F.lit(None)).otherwise(
            F.round(F.col("value") * 100).cast("long")).alias("x"))
    w = W.partitionBy("event_type")
    present = (masked.filter(F.col("x").isNotNull())
               .select("event_type", "x",
                       F.row_number().over(
                           w.orderBy("x", "event_id")).alias("rn"),
                       F.count(F.lit(1)).over(w).alias("n")))
    med = present.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") == F.floor(F.lit(0.5) * (F.col("n") - 1))
                     .cast("long") + 1, F.col("x")))
        .alias("median_cents"))
    return (masked.join(F.broadcast(med), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("x").isNull().cast("long"))
                 .alias("n_imputed"),
                 F.first("median_cents").alias("median_cents"),
                 F.sum(F.coalesce(F.col("x"), F.col("median_cents")))
                 .alias("imputed_sum_cents"))
            .orderBy("event_type"))


@query(
    "pinball_loss_eval",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT event_type, x,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY x) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM c
    ), qhat AS (
        SELECT event_type,
               MIN(CASE WHEN rn = CAST(FLOOR(0.9 * (n - 1)) AS BIGINT)
                             + 1 THEN x END) AS q90
        FROM r GROUP BY event_type
    ), gq AS (
        SELECT MIN(CASE WHEN rn = CAST(FLOOR(0.9 * (n - 1)) AS BIGINT)
                             + 1 THEN x END) AS g90
        FROM (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn,
                     COUNT(*) OVER () AS n FROM c)
    ), losses AS (
        SELECT c.event_type,
               CASE WHEN c.x >= q.q90 THEN 9 * (c.x - q.q90)
                    ELSE (q.q90 - c.x) END AS loss_grp_decicents,
               CASE WHEN c.x >= g.g90 THEN 9 * (c.x - g.g90)
                    ELSE (g.g90 - c.x) END AS loss_glob_decicents
        FROM c JOIN qhat q USING (event_type) CROSS JOIN gq g
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(loss_grp_decicents) AS BIGINT) AS BIGINT)
               AS group_pinball_decicents,
           CAST(CAST(SUM(loss_glob_decicents) AS BIGINT) AS BIGINT)
               AS global_pinball_decicents,
           CAST(CASE WHEN SUM(loss_grp_decicents)
                          <= SUM(loss_glob_decicents)
                     THEN 1 ELSE 0 END AS BIGINT) AS group_model_wins
    FROM losses
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-forecast evaluation by PINBALL (quantile) loss — the
    proper scoring rule for quantile predictors: loss_τ(x, q̂) =
    τ·(x − q̂) if x ≥ q̂ else (1 − τ)·(q̂ − x). Two predictors of the
    per-type p90 compete: the per-group empirical q90 vs the global
    q90 — the group model must win (lower loss) wherever types
    genuinely differ, and the integer win flag makes that a checked
    CONTRACT, not a claim. At τ = 0.9 the two branch weights are
    9/10 and 1/10 of a cent: in DECIcent units both are integers, so
    the whole evaluation is exact (column names carry the unit).

    One rank walk per group + one global walk (both on integer
    cents), thresholds broadcast back, one fused loss scan.
    """
    from pyspark.sql import Window as W

    ev = Catalog(spark, sf_dir).events
    c = (ev.filter(F.col("value").isNotNull())
         .select("event_type",
                 F.round(F.col("value") * 100).cast("long").alias("x")))
    w = W.partitionBy("event_type")
    r = c.select("event_type", "x",
                 F.row_number().over(w.orderBy("x")).alias("rn"),
                 F.count(F.lit(1)).over(w).alias("n"))
    pick = lambda: F.min(
        F.when(F.col("rn") == F.floor(F.lit(0.9) * (F.col("n") - 1))
               .cast("long") + 1, F.col("x")))
    qhat = r.groupBy("event_type").agg(pick().alias("q90"))
    gw = W.partitionBy(F.lit(1))
    gr = c.select("x", F.row_number().over(gw.orderBy("x")).alias("rn"),
                  F.count(F.lit(1)).over(gw).alias("n"))
    gq = gr.agg(pick().alias("g90"))
    losses = (c.join(F.broadcast(qhat), "event_type")
              .crossJoin(F.broadcast(gq))
              .select(
                  "event_type",
                  F.when(F.col("x") >= F.col("q90"),
                         9 * (F.col("x") - F.col("q90")))
                  .otherwise(F.col("q90") - F.col("x"))
                  .alias("loss_grp_decicents"),
                  F.when(F.col("x") >= F.col("g90"),
                         9 * (F.col("x") - F.col("g90")))
                  .otherwise(F.col("g90") - F.col("x"))
                  .alias("loss_glob_decicents")))
    return (losses.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("loss_grp_decicents")
                 .alias("group_pinball_decicents"),
                 F.sum("loss_glob_decicents")
                 .alias("global_pinball_decicents"))
            .withColumn("group_model_wins",
                        (F.col("group_pinball_decicents")
                         <= F.col("global_pinball_decicents"))
                        .cast("long"))
            .orderBy("event_type"))


@query(
    "rapid_repeat_purchase_audit",
    oracle="""
    WITH purchases AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ), lagged AS (
        SELECT user_id, cents, event_id, ts_us,
               LAG(ts_us) OVER w AS prev_us,
               LAG(event_id) OVER w AS prev_event_id,
               LAG(cents) OVER w AS prev_cents
        FROM purchases
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    )
    SELECT user_id,
           prev_event_id AS first_event_id,
           event_id AS repeat_event_id,
           CAST(ts_us - prev_us AS BIGINT) AS gap_us,
           prev_cents AS first_cents,
           cents AS repeat_cents,
           CAST((cents = prev_cents) AS BIGINT) AS same_amount
    FROM lagged
    WHERE prev_us IS NOT NULL AND ts_us - prev_us <= 300000000
    ORDER BY user_id, repeat_event_id
    """,
)
def rapid_repeat_purchase_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Rapid repeat-purchase audit — the double-submit/fraud triage
    feed: consecutive purchases by the same user within 5 minutes,
    each suspect row carrying both event ids and both amounts, with
    exact-amount repeats FLAGGED (the strongest duplicate-charge
    evidence; an amount-keyed rule alone is vacuous on this corpus —
    measured before shipping, the link-prediction lesson). The
    scalable formulation is one lag walk on the user key — adjacent
    pairs in exact integer microseconds, never a time-range
    self-join; a chain of N rapid retries yields N−1 rows, which is
    the triage queue length.
    """
    ev = Catalog(spark, sf_dir).events
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", "event_id",
                 F.unix_micros(F.col("ts")).alias("ts_us"),
                 F.round(F.col("value") * 100).cast("long")
                 .alias("cents")))
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    lagged = (p.withColumn("prev_us", F.lag("ts_us").over(w))
              .withColumn("prev_event_id", F.lag("event_id").over(w))
              .withColumn("prev_cents", F.lag("cents").over(w)))
    return (lagged.filter(F.col("prev_us").isNotNull()
                          & (F.col("ts_us") - F.col("prev_us")
                             <= 300_000_000))
            .select("user_id",
                    F.col("prev_event_id").alias("first_event_id"),
                    F.col("event_id").alias("repeat_event_id"),
                    (F.col("ts_us") - F.col("prev_us")).cast("long")
                    .alias("gap_us"),
                    F.col("prev_cents").alias("first_cents"),
                    F.col("cents").alias("repeat_cents"),
                    (F.col("cents") == F.col("prev_cents"))
                    .cast("long").alias("same_amount"))
            .orderBy("user_id", "repeat_event_id"))


@query(
    "churn_window_sensitivity",
    oracle="""
    WITH last_seen AS (
        SELECT user_id,
               MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        FROM events GROUP BY user_id
    ), frontier AS (
        SELECT MAX(last_us) AS now_us FROM last_seen
    ), w AS (
        SELECT unnest([7, 14, 30]) AS window_days
    )
    SELECT w.window_days,
           CAST((SELECT COUNT(*) FROM last_seen) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN f.now_us - ls.last_us
                              > w.window_days * 86400000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
           CAST(SUM(CASE WHEN f.now_us - ls.last_us
                              > w.window_days * 86400000000
                         THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS churn_micros
    FROM last_seen ls, frontier f, w
    GROUP BY w.window_days
    ORDER BY w.window_days
    """,
)
def churn_window_sensitivity(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Churn-definition sensitivity — the number every retention
    debate actually hinges on: how much does the churn rate move if
    "churned" means 7 vs 14 vs 30 days of inactivity? One
    user-grain last-seen aggregate feeds all three definitions (the
    sweep is a broadcast 3-row cross-apply, the
    ``jaccard_threshold_sweep`` pattern); inactivity is measured
    against the data's own frontier so the metric is reproducible at
    any read time. Rates in floor-div micros.
    """
    ev = Catalog(spark, sf_dir).events
    last_seen = (ev.groupBy("user_id")
                 .agg(F.max(F.unix_micros(F.col("ts"))).alias("last_us")))
    frontier = last_seen.agg(F.max("last_us").alias("now_us"))
    wdf = ev.sparkSession.createDataFrame(
        pa.table({"window_days": pa.array([7, 14, 30], pa.int32())}))
    joined = (last_seen.crossJoin(F.broadcast(frontier))
              .crossJoin(F.broadcast(wdf)))
    churned = F.sum(
        F.when(F.col("now_us") - F.col("last_us")
               > F.col("window_days").cast("long") * 86_400_000_000, 1)
        .otherwise(0))
    return (joined.groupBy("window_days")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 churned.alias("n_churned"))
            .select(F.col("window_days").cast("long").alias("window_days"),
                    "n_users",
                    F.col("n_churned").cast("long").alias("n_churned"),
                    F.expr("n_churned * 1000000L div n_users")
                    .alias("churn_micros"))
            .orderBy("window_days"))


@query(
    "dq_nonfinite_audit",
    oracle="""
    SELECT 'events.value' AS source,
           CAST(COUNT(*) FILTER (WHERE isnan(value)) AS BIGINT) AS n_nan,
           CAST(COUNT(*) FILTER (WHERE value = 'infinity'::DOUBLE)
                AS BIGINT) AS n_pos_inf,
           CAST(COUNT(*) FILTER (WHERE value = '-infinity'::DOUBLE)
                AS BIGINT) AS n_neg_inf,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
    UNION ALL
    SELECT 'orders.o_totalprice',
           CAST(COUNT(*) FILTER (WHERE isnan(o_totalprice)) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o_totalprice = 'infinity'::DOUBLE)
                AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o_totalprice = '-infinity'::DOUBLE)
                AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem.l_extendedprice',
           CAST(COUNT(*) FILTER (WHERE isnan(l_extendedprice)) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE l_extendedprice = 'infinity'::DOUBLE)
                AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE l_extendedprice = '-infinity'::DOUBLE)
                AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.l_discount',
           CAST(COUNT(*) FILTER (WHERE isnan(l_discount)) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE l_discount = 'infinity'::DOUBLE)
                AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE l_discount = '-infinity'::DOUBLE)
                AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'embeddings.embedding',
           CAST(COUNT(*) FILTER (WHERE COALESCE(len(list_filter(embedding,
                x -> isnan(x))), 0) > 0) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE COALESCE(len(list_filter(embedding,
                x -> x = 'infinity'::FLOAT)), 0) > 0) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE COALESCE(len(list_filter(embedding,
                x -> x = '-infinity'::FLOAT)), 0) > 0) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM embeddings
    ORDER BY source
    """,
)
def dq_nonfinite_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-finite-measure census: NaN / +Inf / -Inf counts per double
    lane plus vectors containing any non-finite embedding component —
    the gate a training pipeline runs BEFORE the engine's
    exact-integer money/measure lanes, whose ANSI casts (``cents``,
    micros) deliberately THROW on non-finite input rather than
    silently poisoning an aggregate. Neither engine can express "sum
    of money with a NaN in it" deterministically (NaN ordering and
    propagation diverge between runtimes), so detection is a
    first-class operator and finiteness is the documented contract of
    every downstream lane.

    One scan per table with every rule fused into the aggregate
    (the `_checks_to_rows` policy): lineitem's two lanes share one
    pass, and the embedding check runs inside `F.exists` — a
    JVM-side lambda over the array, no explode, so the scan stays
    O(corpus) with no row multiplication. At 100 TB each branch is a
    column-pruned scan feeding a one-row aggregate; nothing shuffles
    but the five single-row partials.

    The shipped fixtures are all-finite at every SF, so every count
    is zero on clean data; the NaN/Inf branches are force-exercised
    against an injected-non-finite replica in
    ``tests/test_nonfinite.py`` (the vacuous-branch lesson — the
    audit's positive control lives in CI, the clean-data zeros are
    the production assertion).
    """
    cat = Catalog(spark, sf_dir)
    PINF, NINF = float("inf"), float("-inf")

    def census(df: DataFrame, table: str, cols: list[str]) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs += [
                F.coalesce(F.sum(F.isnan(F.col(c)).cast("long")),
                           F.lit(0)).alias(f"{c}__nan"),
                F.coalesce(F.sum((F.col(c) == PINF).cast("long")),
                           F.lit(0)).alias(f"{c}__pinf"),
                F.coalesce(F.sum((F.col(c) == NINF).cast("long")),
                           F.lit(0)).alias(f"{c}__ninf"),
            ]
        one = df.agg(*aggs)
        rows = F.array(*[
            F.struct(F.lit(f"{table}.{c}").alias("source"),
                     F.col(f"{c}__nan").alias("n_nan"),
                     F.col(f"{c}__pinf").alias("n_pos_inf"),
                     F.col(f"{c}__ninf").alias("n_neg_inf"))
            for c in cols])
        return (one.select(F.explode(rows).alias("r"),
                           F.col("__n").alias("n_rows"))
                .select("r.source", "r.n_nan", "r.n_pos_inf",
                        "r.n_neg_inf", "n_rows"))

    def vec_pred(test):
        # exists() is NULL for a NULL array: a missing vector is not a
        # non-finite one (the null-census is dq_null_ratio_profile's
        # job), so coalesce to false.
        return F.coalesce(F.exists(F.col("embedding"), test), F.lit(False))

    emb = (cat.embeddings.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum(vec_pred(lambda x: F.isnan(x)).cast("long")),
                   F.lit(0)).alias("n_nan"),
        F.coalesce(F.sum(vec_pred(lambda x: x == PINF).cast("long")),
                   F.lit(0)).alias("n_pos_inf"),
        F.coalesce(F.sum(vec_pred(lambda x: x == NINF).cast("long")),
                   F.lit(0)).alias("n_neg_inf"))
        .select(F.lit("embeddings.embedding").alias("source"),
                "n_nan", "n_pos_inf", "n_neg_inf", "n_rows"))

    return (census(cat.events, "events", ["value"])
            .unionByName(census(cat.orders, "orders", ["o_totalprice"]))
            .unionByName(census(cat.lineitem, "lineitem",
                                ["l_extendedprice", "l_discount"]))
            .unionByName(emb)
            .orderBy("source"))
