"""Corpus-distribution statistics: diversity, drift, and Zipf shape.

The curation questions these answer: "is a source's vocabulary
degenerate?" (Simpson diversity), "how far is a source's token
distribution from the rest of the corpus?" (total-variation distance
— the mixture-weighting signal for data curation), and "does the
corpus follow the expected rank-frequency law?" (Zipf check — a
synthetic or template-generated corpus shows up as a flat or cliffed
curve).

Determinism policy (see ``functions.exact``): no transcendentals.
Shannon entropy / KL need ``ln`` whose last-ulp behavior differs
across libms, so the engine ships the *rational* members of each
family — Simpson diversity instead of entropy, total-variation
distance instead of KL — computed from exact integer token counts
with a fixed, finite sequence of double ops at the end. Same analytic
use (diversity ranking, drift ranking), bit-reproducible everywhere.

Scale shape: everything is explode → one (key, token) aggregate →
small-key reduction. Shuffles carry one row per distinct (source,
token) — map-side partial aggregation absorbs the Zipf head — and the
TVD closed form only touches tokens *present* in each source (the
absent-token mass is a one-term remainder), so no vocabulary × source
cross join ever materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..catalog import Catalog
from . import query

#: Fixed-point scale for probability-valued quantities. One part in
#: 1e12 keeps rounding error 6 orders below any drift signal worth
#: acting on, and per-token scaled masses stay ≤ 1e12 so a corpus-wide
#: sum over a 1e6-token vocabulary peaks at ~1e18 < int64 max.
PSCALE = 1_000_000_000_000.0


def _source_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, tok, n) — one row per distinct token per source."""
    d = Catalog(spark, sf_dir).documents
    toks = d.select("source", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    return toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))


@query(
    "token_simpson_diversity",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), counts AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
        FROM tok GROUP BY source, tok
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
           CAST(CAST(SUM(n) AS BIGINT) AS BIGINT) AS n_tokens,
           CAST(CAST(SUM(n * n) AS BIGINT) AS DOUBLE)
               / CAST(SUM(n) AS BIGINT) / CAST(SUM(n) AS BIGINT)
               AS simpson_index,
           1.0 - CAST(CAST(SUM(n * n) AS BIGINT) AS DOUBLE)
               / CAST(SUM(n) AS BIGINT) / CAST(SUM(n) AS BIGINT)
               AS gini_simpson_diversity
    FROM counts GROUP BY source
    """,
)
def token_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary diversity via the Simpson index
    Σ(n_i/N)² — the probability two independently drawn tokens
    coincide. Low gini_simpson (= 1 − simpson) flags template spam /
    degenerate sources the way low entropy would, but the statistic is
    a ratio of exact integer sums (Σn_i² and N), so the only float ops
    are two trailing divisions — bit-identical in any engine, no
    ``ln``. One explode, one (source, token) aggregate, one per-source
    reduction; at 100 TB the vocabulary aggregate is the only real
    shuffle and it carries distinct tokens, not occurrences."""
    counts = _source_token_counts(spark, sf_dir)
    per_src = counts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.sum("n").alias("n_tokens"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"))
    simpson = (F.col("sum_sq").cast("double")
               / F.col("n_tokens") / F.col("n_tokens"))
    return per_src.select(
        "source", "n_distinct_tokens", "n_tokens",
        simpson.alias("simpson_index"),
        (F.lit(1.0) - simpson).alias("gini_simpson_diversity"))


@query(
    "source_tvd_shift",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), counts AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
        FROM tok GROUP BY source, tok
    ), tot AS (
        SELECT tok, CAST(SUM(n) AS BIGINT) AS n_tot FROM counts GROUP BY tok
    ), grand AS (
        SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts
    ), src AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS n_src FROM counts
        GROUP BY source
    ), scaled AS (
        SELECT c.source,
               CAST(ROUND(CAST(c.n AS DOUBLE) * {PSCALE:.1f} / s.n_src)
                    AS BIGINT) AS p,
               CAST(ROUND(CAST(t.n_tot - c.n AS DOUBLE) * {PSCALE:.1f}
                          / (g.t - s.n_src)) AS BIGINT) AS q
        FROM counts c
        JOIN tot t USING (tok)
        JOIN src s USING (source)
        CROSS JOIN grand g
    )
    SELECT source,
           CAST((CAST(SUM(ABS(p - q)) AS BIGINT)
                 + ({PSCALE:.0f} - CAST(SUM(q) AS BIGINT))) AS DOUBLE)
               * 0.5 / {PSCALE:.1f} AS tvd
    FROM scaled GROUP BY source
    """,
)
def source_tvd_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per source: total-variation distance between
    the source's token distribution p and the rest-of-corpus
    distribution q (leave-one-out, so a dominant source can't hide its
    own drift inside the reference).

    TVD instead of KL by policy (rational, no ``ln``), and exact by
    fixed-point: each per-token mass is rounded to one part in 1e12
    (a fixed double-mult/divide/round sequence both engines evaluate
    identically), then summed as integers — order-independent.

    The closed form only iterates tokens PRESENT in the source:
    TVD = ½·(Σ_present |p_i − q_i| + (1 − Σ_present q_i)), where the
    remainder term is the q-mass of tokens the source never emits.
    That keeps the plan at one (source, token) aggregate + a broadcast
    of per-token corpus totals — never a V × S cross join, which is
    the naive formulation's scale-killer at a 10M-token vocabulary.
    """
    counts = _source_token_counts(spark, sf_dir)
    tot = counts.groupBy("tok").agg(F.sum("n").alias("n_tot"))
    src = counts.groupBy("source").agg(F.sum("n").alias("n_src"))
    grand = counts.agg(F.sum("n").alias("t"))
    scaled = (
        counts
        .join(tot, "tok")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            F.round(F.col("n").cast("double") * PSCALE / F.col("n_src"))
            .cast("long").alias("p"),
            # try_divide: with a SINGLE source the leave-one-out
            # reference corpus is empty (t = n_src) and q is
            # undefined — NULL like DuckDB's x/0, not an ANSI throw
            # (empty_sweep singleton tier).
            F.round(F.try_divide(
                (F.col("n_tot") - F.col("n")).cast("double") * PSCALE,
                F.col("t") - F.col("n_src")))
            .cast("long").alias("q")))
    return (scaled.groupBy("source")
            .agg(F.sum(F.abs(F.col("p") - F.col("q"))).alias("sad"),
                 F.sum("q").alias("qsum"))
            .select("source",
                    ((F.col("sad") + (F.lit(int(PSCALE)) - F.col("qsum")))
                     .cast("double") * 0.5 / PSCALE).alias("tvd")))


@query(
    "zipf_rank_frequency",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), counts AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY tok
    ), ranked AS (
        SELECT tok, n,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS BIGINT)
                   AS rank
        FROM counts
    )
    SELECT rank, tok, n,
           CAST(rank * n AS BIGINT) AS rank_times_freq,
           CAST(n AS DOUBLE)
               / (SELECT n FROM ranked WHERE rank = 1) AS freq_over_top
    FROM ranked
    WHERE rank <= 20
    ORDER BY rank
    """,
)
def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law check: the top-20 rank-frequency table with the
    rank·frequency product (constant under ideal Zipf — a flat column
    says natural-language-like, a cliff says templated/synthetic) and
    each frequency as a fraction of the top token's. No log-log
    regression: the diagnostic product is exact integers and the ratio
    is one double division, keeping the engine's no-libm contract.
    Plan: token aggregate, then a 1-partition window over the top-20
    slice only (pre-pruned by TakeOrdered, so the global window never
    sees the full vocabulary)."""
    from pyspark.sql import Window as W
    d = Catalog(spark, sf_dir).documents
    counts = (d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    # TakeOrdered prunes to 20 rows BEFORE the single-partition window
    # ranks them — the empty-frame window only ever sees 20 rows.
    top = counts.orderBy(F.col("n").desc(), "tok").limit(20)
    w = W.orderBy(F.col("n").desc(), "tok")
    w_all = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (top
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .withColumn("top_n", F.first("n").over(w_all))
            .select("rank", "tok", "n",
                    (F.col("rank") * F.col("n")).alias("rank_times_freq"),
                    (F.col("n").cast("double") / F.col("top_n"))
                    .alias("freq_over_top"))
            .orderBy("rank"))


@query(
    "ks_statistic_value_drift",
    oracle="""
    WITH s AS (
        SELECT value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is2
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), n AS (
        SELECT CAST(SUM(is1) AS BIGINT) AS n1,
               CAST(SUM(is2) AS BIGINT) AS n2 FROM s
    ), pv AS (
        SELECT value, CAST(SUM(is1) AS BIGINT) AS k1,
               CAST(SUM(is2) AS BIGINT) AS k2
        FROM s GROUP BY value
    ), c AS (
        SELECT value,
               SUM(k1) OVER (ORDER BY value) AS c1,
               SUM(k2) OVER (ORDER BY value) AS c2
        FROM pv
    ), d AS (
        SELECT value,
               abs(CAST(c1 AS BIGINT) * n.n2
                   - CAST(c2 AS BIGINT) * n.n1) AS dnum,
               n.n1, n.n2
        FROM c, n
    ), m AS (
        SELECT *, MAX(dnum) OVER () AS mx FROM d
    )
    SELECT n1, n2,
           CAST(MAX(dnum) AS BIGINT) AS d_num,
           CAST(CAST(MAX(dnum) AS BIGINT) AS DOUBLE) / (n1 * n2)
               AS ks_stat,
           MIN(value) AS at_value
    FROM m WHERE dnum = mx GROUP BY n1, n2
    """,
)
def ks_statistic_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic between the
    click and purchase value distributions — the continuous-variable
    drift detector beside the categorical ``source_tvd_shift``: D =
    max over observed values of |F1(v) − F2(v)|, computed entirely in
    integers as max |c1(v)·n2 − c2(v)·n1| (cumulative counts cross-
    scaled by the opposite sample size), with ONE double division at
    the end — order-free, bit-reproducible, and the argmax location
    reported deterministically (smallest value attaining the max).
    NULL values are excluded on both sides before counting (a NULL
    carries no ECDF mass and the two engines order NULLs differently).
    The cross-product dnum fits int64 while n1·n2 < 2^63; at corpus
    scales beyond that the binned variant (below) also shrinks the
    counts, or the lanes widen to decimal(38) as in twap_user_value.

    Scale: the cumulative walk is a single ordered pass over DISTINCT
    values — fine while the value domain is bounded (prices,
    quantized metrics). For an unbounded continuous domain at 100 TB
    the production variant pre-bins to w buckets (binned ECDFs bound
    the true D within max bin mass) so the walk is w rows; the
    integer cross-scaling is unchanged.
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).events
    s = (e.filter(F.col("event_type").isin("click", "purchase")
                  & F.col("value").isNotNull())
         .select("value",
                 (F.col("event_type") == "click").cast("long").alias("is1"),
                 (F.col("event_type") == "purchase").cast("long")
                 .alias("is2")))
    n = s.agg(F.sum("is1").alias("n1"), F.sum("is2").alias("n2"))
    pv = s.groupBy("value").agg(F.sum("is1").alias("k1"),
                                F.sum("is2").alias("k2"))
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = pv.select("value", F.sum("k1").over(w).alias("c1"),
                  F.sum("k2").over(w).alias("c2"))
    d = (c.crossJoin(F.broadcast(n))
         .select("value", "n1", "n2",
                 F.abs(F.col("c1") * F.col("n2")
                       - F.col("c2") * F.col("n1")).alias("dnum")))
    # Single pass: the global-max window rides the same one-partition
    # walk the cumulative sums already did — no second scan of the
    # events lineage (the MMR-rescan lesson from the review pass).
    m = d.withColumn("mx", F.max("dnum").over(
        W.partitionBy("n1", "n2")))
    return (m.filter(F.col("dnum") == F.col("mx"))
            .groupBy("n1", "n2")
            .agg(F.max("dnum").alias("d_num"),
                 F.min("value").alias("at_value"))
            .select("n1", "n2", "d_num",
                    (F.col("d_num").cast("double")
                     / (F.col("n1") * F.col("n2"))).alias("ks_stat"),
                    "at_value"))


@query(
    "mannwhitney_u_value_drift",
    oracle="""
    WITH s AS (
        SELECT value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), pv AS (
        SELECT value, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(is1) AS BIGINT) AS k1
        FROM s GROUP BY value
    ), r AS (
        SELECT value, k, k1,
               SUM(k) OVER (ORDER BY value) AS cum,
               COALESCE(SUM(k) OVER (ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS cum_before
        FROM pv
    ), agg AS (
        SELECT CAST(SUM(k1 * (CAST(cum_before AS BIGINT)
                              + CAST(cum AS BIGINT) + 1)) AS BIGINT)
                   AS r1_x2,
               CAST(SUM(k1) AS BIGINT) AS n1,
               CAST(SUM(k - k1) AS BIGINT) AS n2,
               CAST(SUM(k * k * k - k) AS BIGINT) AS tie_term
        FROM r
    )
    SELECT n1, n2,
           2 * n1 * n2 + n1 * (n1 + 1) - r1_x2 AS u_x2,
           r1_x2,
           tie_term,
           CAST(1 AS BIGINT) AS ties_handled
    FROM agg
    """,
)
def mannwhitney_u_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann–Whitney U between the click and purchase value
    samples — the rank-based location-shift test beside the
    shape-sensitive KS statistic (``ks_statistic_value_drift``):
    ranks are midranks under ties, kept integral by working in
    DOUBLED units (midrank·2 = rank_before + rank_after + 1 summed
    over the tied block), so R1·2, U·2 (U itself can be half-integral
    under cross-group ties, so the doubled value is what stays exact;
    U = u_x2 / 2 = n1·n2 + n1(n1+1)/2 − R1) and the tie-correction term
    Σ(t³−t) are all exact integers and the whole statistic
    hash-verifies with zero float ops. NULL values are excluded on
    both sides (they are not observations, and the engines order
    NULLs differently in the rank walk). The z-normalization is one
    fixed double chain a consumer applies to these integers; emitting
    the integers keeps the oracle bit-exact.

    Plan: one grouped pass per distinct value, one ordered cumulative
    walk over the value domain (same shape and same 100 TB binning
    remedy as the KS operator), then a single-row aggregate.
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).events
    s = (e.filter(F.col("event_type").isin("click", "purchase")
                  & F.col("value").isNotNull())
         .select("value",
                 (F.col("event_type") == "click").cast("long")
                 .alias("is1")))
    pv = s.groupBy("value").agg(F.count(F.lit(1)).alias("k"),
                                F.sum("is1").alias("k1"))
    w = W.orderBy("value")
    r = (pv.withColumn("cum", F.sum("k").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)))
         .withColumn("cum_before", F.coalesce(
             F.sum("k").over(w.rowsBetween(W.unboundedPreceding, -1)),
             F.lit(0))))
    agg = r.agg(
        F.sum(F.col("k1") * (F.col("cum_before") + F.col("cum") + 1))
        .alias("r1_x2"),
        F.sum("k1").alias("n1"),
        F.sum(F.col("k") - F.col("k1")).alias("n2"),
        F.sum(F.col("k") * F.col("k") * F.col("k") - F.col("k"))
        .alias("tie_term"))
    return agg.select(
        "n1", "n2",
        F.expr("2 * n1 * n2 + n1 * (n1 + 1) - r1_x2")
        .alias("u_x2"),
        "r1_x2", "tie_term",
        F.lit(1).cast("long").alias("ties_handled"))


@query(
    "key_skew_gini",
    oracle="""
    WITH x AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    ), ranked AS (
        SELECT n_events,
               ROW_NUMBER() OVER (ORDER BY n_events, user_id) AS i
        FROM x
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(CAST(SUM(n_events) AS BIGINT) AS BIGINT) AS total,
               CAST(CAST(SUM(i * n_events) AS BIGINT) AS BIGINT) AS s,
               CAST(MAX(n_events) AS BIGINT) AS max_key
        FROM ranked
    )
    SELECT n_keys, total, max_key,
           CAST(1000000 * (2 * CAST(s AS HUGEINT)
                           - (n_keys + 1) * CAST(total AS HUGEINT))
                // (CAST(n_keys AS HUGEINT) * total) AS BIGINT)
               AS gini_micros,
           CAST(1000000 * max_key // total AS BIGINT)
               AS max_key_share_micros
    FROM agg
    """,
)
def key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis as a single exact statistic: the
    Gini concentration coefficient of per-key row counts (here
    events per user — the key a sessionization or per-user window
    would shuffle on). Gini 0 = perfectly balanced partitions;
    approaching 1 = a few hot keys carry the table, and a groupBy on
    the key stragglers at 100 TB (the decision input for the salting
    / AQE-skew-join remedies in ``functions/skew.py``).

    Exact rational lane: with counts sorted ascending and 1-based
    rank i, G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) — tie-order
    invariant (equal x swap ranks freely), so the md5-free
    deterministic rank walk is safe. gini_micros is one integer
    floor-div; no float enters the statistic. max_key_share (top
    key's share of rows) rides along as the direct straggler bound.

    Plan: one (key → count) aggregate — the only corpus-sized
    shuffle — then the rank walk runs on the DISTINCT-KEY relation
    (single-partition window bounded by key cardinality; the KS
    binning remedy applies if keys themselves explode), then a 1-row
    reduction.
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).events
    x = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ranked = x.select(
        "n_events",
        F.row_number().over(W.orderBy("n_events", "user_id")).alias("i"))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_events").alias("total"),
        F.sum(F.col("i") * F.col("n_events")).alias("s"),
        F.max("n_events").alias("max_key"))
    return agg.select(
        "n_keys", "total", "max_key",
        # 128-bit lane: s = SUM(i * x) reaches 10^12 already at
        # moderate key counts, and the 10^6 scaling would overflow
        # int64 around sf10.
        F.expr("CAST(CAST(1000000 AS DECIMAL(38,0))"
               " * (2 * CAST(s AS DECIMAL(38,0))"
               "    - (n_keys + 1) * CAST(total AS DECIMAL(38,0)))"
               " div (CAST(n_keys AS DECIMAL(38,0)) * total)"
               " AS BIGINT)").alias("gini_micros"),
        F.expr("1000000 * max_key div total")
        .alias("max_key_share_micros"))


@query(
    "docs_language_mix_shift",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang FROM documents WHERE doc_id IS NOT NULL
    ), mid AS (
        SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM d
    ), per AS (
        SELECT lang,
               CAST(SUM(CASE WHEN doc_id <= mid THEN 1 ELSE 0 END)
                    AS BIGINT) AS cnt1,
               CAST(SUM(CASE WHEN doc_id > mid THEN 1 ELSE 0 END)
                    AS BIGINT) AS cnt2
        FROM d CROSS JOIN mid GROUP BY lang
    ), pert AS (
        SELECT lang, cnt1, cnt2,
               CAST(SUM(cnt1) OVER () AS BIGINT) AS tot1,
               CAST(SUM(cnt2) OVER () AS BIGINT) AS tot2
        FROM per
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_langs,
           MIN(tot1) AS docs_first,
           MIN(tot2) AS docs_second,
           CAST(SUM(ABS(cnt1 * tot2 - cnt2 * tot1)) AS BIGINT) AS tvd_num,
           CAST(CAST(SUM(ABS(cnt1 * tot2 - cnt2 * tot1)) AS BIGINT)
                AS DOUBLE)
               / NULLIF(CAST(2 * MIN(tot1) * MIN(tot2) AS DOUBLE), 0) AS tvd
    FROM pert
    """,
)
def docs_language_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between the language-ID distributions
    of the corpus's first and second halves (split at the doc_id
    midpoint) — the drift alarm for "did the crawl's language mix
    change?". Module policy arithmetic: the TVD numerator is the
    exact integer sum |cnt1*tot2 - cnt2*tot1| over languages (common
    denominator tot1*tot2), and the only float op is ONE final
    division — bit-reproducible everywhere. A one-document corpus
    leaves the second half empty: there is no distribution to compare,
    so ``tvd`` is NULL. Both engines say so with NULLIF on the zero
    divisor: Spark's ANSI division raises DIVIDE_BY_ZERO on it, and
    the oracle states the NULL rather than lean on DuckDB's own
    zero-divisor result (NULL in DuckDB 1.0).

    One broadcast scalar (the midpoint) and one groupBy on lang: the
    shuffle carries O(languages) rows whatever the corpus size, the
    half totals ride a global window over that language-grain
    relation (so `per` is derived once — the crossJoin-with-its-own-
    aggregate form re-scans documents twice, scan_audit class), and
    nothing joins on the doc grain.
    """
    d = (Catalog(spark, sf_dir).documents
         .filter(F.col("doc_id").isNotNull())
         .select("doc_id", "lang"))
    mid = d.agg(F.expr("(MIN(doc_id) + MAX(doc_id)) div 2").alias("mid"))
    per = (d.crossJoin(F.broadcast(mid))
           .groupBy("lang")
           .agg(F.sum(F.when(F.col("doc_id") <= F.col("mid"), 1)
                      .otherwise(0)).cast("long").alias("cnt1"),
                F.sum(F.when(F.col("doc_id") > F.col("mid"), 1)
                      .otherwise(0)).cast("long").alias("cnt2")))
    wall = (W.partitionBy()
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    pert = (per.withColumn("tot1", F.sum("cnt1").over(wall).cast("long"))
            .withColumn("tot2", F.sum("cnt2").over(wall).cast("long")))
    num = F.sum(F.abs(F.col("cnt1") * F.col("tot2")
                      - F.col("cnt2") * F.col("tot1"))).cast("long")
    g = pert.agg(F.count(F.lit(1)).cast("long").alias("n_langs"),
                 F.min("tot1").alias("docs_first"),
                 F.min("tot2").alias("docs_second"),
                 num.alias("tvd_num"))
    return g.select(
        "n_langs", "docs_first", "docs_second", "tvd_num",
        (F.col("tvd_num").cast("double")
         / F.nullif((F.lit(2) * F.col("docs_first") * F.col("docs_second"))
                    .cast("double"), F.lit(0.0))).alias("tvd"))
