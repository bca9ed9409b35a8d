"""Streaming twins: the ``streaming/`` builders drained to a result.

Each query drains the full events backlog through the real
incremental engine (``trigger(availableNow=True)``, see
``streaming/events_stream.run_available_now``) into a named memory
sink and returns the materialized result. The drained results are
deterministic, so every twin carries a full oracle: the driver
verifies the incremental engine's output, not just that it ran.

Imported last by :func:`operators.load_all`, so the twins stay at the
end of registration order.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..catalog import load_table
from ..functions.exact import cents
from ..streaming import events_stream as es
from . import query


def _drain(spark: SparkSession, sf_dir: str,
           build: Callable[[DataFrame], DataFrame], name: str,
           output_mode: str) -> DataFrame:
    """Drain ``build(events stream)`` into memory sink ``name``, with
    the state partitions sized to the backlog."""
    return es.run_available_now(
        build(es.events_stream(spark, sf_dir)), name,
        output_mode=output_mode,
        state_partitions=es.backlog_state_partitions(sf_dir))


def _settled_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row ``cutoff``: min(max click ts, max purchase ts) − 2h
    lateness − 1h join range. A click or purchase at or before it has
    its whole match window cleared by the final watermark."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.agg(F.least(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))))
        .alias("m"))
        .select((F.col("m") - F.expr("INTERVAL 3 HOUR")).alias("cutoff")))


@query(
    "stream_click_purchase_full_join_settled",
    oracle="""
    WITH c AS (
        SELECT user_id AS c_user, event_id AS click_id,
               CAST(ts AS TIMESTAMP) AS click_ts
        FROM events
        WHERE event_type = 'click' AND user_id IS NOT NULL
    ), p AS (
        SELECT user_id AS p_user, event_id AS purchase_id,
               CAST(ts AS TIMESTAMP) AS purchase_ts
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ), cut AS (
        SELECT least((SELECT max(click_ts) FROM c),
                     (SELECT max(purchase_ts) FROM p))
               - INTERVAL 3 HOUR AS cutoff
    )
    SELECT COALESCE(c.c_user, p.p_user) AS user_id,
           c.click_id, c.click_ts, p.purchase_id, p.purchase_ts
    FROM c
    FULL OUTER JOIN p ON c.c_user = p.p_user
                     AND p.purchase_ts >= c.click_ts
                     AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR,
         cut
    WHERE (c.click_id IS NOT NULL AND p.purchase_id IS NOT NULL)
       OR (p.purchase_id IS NULL AND c.click_ts <= cut.cutoff)
       OR (c.click_id IS NULL AND p.purchase_ts <= cut.cutoff)
    """,
)
def stream_click_purchase_full_join_settled(spark: SparkSession,
                                            sf_dir: str) -> DataFrame:
    """The FULL outer stream-stream join restricted to its settled
    region: matched rows always emit (inner semantics); null-
    extended rows on either side are kept only when that side's
    whole match window provably cleared the final watermark (see
    :func:`_settled_cutoff`). Inside that region availableNow
    emission is complete on both sides, so the result is
    deterministic and carries a full oracle. Outside it, younger
    unmatched rows are still buffered in state — correct streaming
    behavior."""
    drained = _drain(spark, sf_dir, es.click_purchase_full_join,
                     "q_stream_cp_full_settled", "append")
    matched = F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()
    settled_click = (F.col("purchase_id").isNull()
                     & (F.col("click_ts") <= F.col("cutoff")))
    settled_purchase = (F.col("click_id").isNull()
                        & (F.col("purchase_ts") <= F.col("cutoff")))
    return (drained.crossJoin(F.broadcast(_settled_cutoff(spark, sf_dir)))
            .filter(matched | settled_click | settled_purchase)
            .drop("cutoff"))


@query(
    "stream_click_purchase_left_join_settled",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
        FROM events
        WHERE event_type = 'click' AND user_id IS NOT NULL
    ), p AS (
        SELECT user_id AS p_user, event_id AS purchase_id,
               CAST(ts AS TIMESTAMP) AS purchase_ts
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ), cut AS (
        SELECT least((SELECT max(click_ts) FROM c),
                     (SELECT max(purchase_ts) FROM p))
               - INTERVAL 3 HOUR AS cutoff
    )
    SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id, p.purchase_ts
    FROM c
    LEFT JOIN p ON c.user_id = p.p_user
               AND p.purchase_ts >= c.click_ts
               AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR,
         cut
    WHERE c.click_ts <= cut.cutoff
    """,
)
def stream_click_purchase_left_join_settled(spark: SparkSession,
                                            sf_dir: str) -> DataFrame:
    """The left-outer stream-stream join restricted to the settled
    region: clicks whose whole match window the final watermark has
    cleared (see :func:`_settled_cutoff`). Inside that region
    availableNow emission is complete — matched AND null-extended
    rows — so the result is deterministic and gets a full oracle."""
    drained = _drain(spark, sf_dir, es.click_purchase_left_join,
                     "q_stream_cp_left_settled", "append")
    return (drained.crossJoin(F.broadcast(_settled_cutoff(spark, sf_dir)))
            .filter(F.col("click_ts") <= F.col("cutoff"))
            .drop("cutoff"))


@query(
    "stream_click_purchase_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           p.event_id AS purchase_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.user_id IS NOT NULL
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR
    """,
)
def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner stream-stream join: each click with every purchase by the
    same user within the following hour."""
    return _drain(spark, sf_dir, es.click_purchase_join,
                  "q_stream_cp_join", "append")


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / 100.0 AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window counts and exact value sums per event
    type."""
    return _drain(spark, sf_dir, es.tumbling_counts,
                  "q_stream_tumbling", "complete")


@query(
    "stream_sliding_counts",
    oracle="""
    WITH slid AS (
        SELECT unnest([date_trunc('hour', CAST(ts AS TIMESTAMP))
                           - INTERVAL 1 HOUR,
                       date_trunc('hour', CAST(ts AS TIMESTAMP))])
                   AS window_start,
               event_type, value
        FROM events
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / 100.0 AS total_value
    FROM slid GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hour windows sliding by one hour: counts and exact value
    sums per event type."""
    return _drain(spark, sf_dir, es.sliding_counts,
                  "q_stream_sliding", "complete")


@query(
    "stream_dedup_events",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM events
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-scoped stateful dedup on event_id, drained through
    the incremental engine. event_id is unique in the testdata, so
    the deduped drain equals the full table — which is exactly what
    the oracle pins (any dropped or duplicated row hash-mismatches);
    tests/test_streaming.py additionally proves a true duplicate is
    dropped."""
    return _drain(spark, sf_dir,
                  lambda s: es.dedup_stream(s).select(
                      "event_id", "user_id", "event_type", "value", "ts"),
                  "q_stream_dedup", "append")


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / 100.0 AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the
    static customer dimension (no state, no watermark needed — the
    static side is a plain broadcast per micro-batch), then a
    complete-mode aggregate per market segment. The third join
    flavor next to the two stream-stream joins: at scale this is
    THE pattern for dimension enrichment, and its statelessness is
    the point — nothing accumulates."""
    def enrich(s: DataFrame) -> DataFrame:
        dim = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey"), F.col("c_mktsegment"))
        return (s.join(F.broadcast(dim), s.user_id == dim.c_custkey)
                .groupBy("c_mktsegment")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     (F.sum(cents(F.col("value"))).cast("double") / 100.0)
                     .alias("total_value")))

    return _drain(spark, sf_dir, enrich, "q_stream_enrich", "complete")


@query(
    "stream_user_event_type_sets",
    oracle="""
    SELECT user_id,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type)
               AS event_types_csv
    FROM events GROUP BY user_id
    """,
)
def stream_user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user distinct-event-type set via custom set-valued
    state (applyInPandasWithState).
    Update mode re-emits a user's row per micro-batch; the set
    only grows, so the final state is the struct-max over the
    drain — deterministic under any batch split."""
    from ..streaming.stateful import user_event_type_sets
    drained = _drain(spark, sf_dir, user_event_type_sets,
                     "q_stream_type_sets", "update")
    return (drained.groupBy("user_id")
            .agg(F.max(F.struct("n_event_types", "event_types_csv"))
                 .alias("m"))
            .select("user_id",
                    F.col("m.n_event_types").alias("n_event_types"),
                    F.col("m.event_types_csv").alias("event_types_csv")))


@query(
    "stream_session_windows",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM ordered
    )
    SELECT user_id,
           min(CAST(ts AS TIMESTAMP)) AS session_start,
           max(CAST(ts AS TIMESTAMP)) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_idx
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap."""
    return _drain(spark, sf_dir, es.session_windows,
                  "q_stream_sessions", "complete")


@query(
    "stream_hourly_topk_drain",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT window_start, event_type, n,
               ROW_NUMBER() OVER (PARTITION BY window_start
                                  ORDER BY n DESC, event_type NULLS LAST)
                   AS rank
        FROM hourly
    )
    SELECT window_start, event_type, n, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 2
    ORDER BY window_start, rank
    """,
)
def stream_hourly_topk_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming -> batch composition: drain the tumbling hourly
    counts through the incremental engine, then rank the top-2
    event types per hour on the DRAINED relation — the
    feed-the-dashboard shape (stream maintains the aggregate;
    ranking is a cheap batch pass over window-grain rows, never
    over events)."""
    drained = _drain(spark, sf_dir, es.tumbling_counts,
                     "q_stream_hourly_topk", "complete")
    # Explicit NULLS LAST on the tiebreak: a null event_type
    # bucket otherwise wins ties in Spark (ASC defaults NULLS
    # FIRST) and loses them in the oracle (null_sweep audit).
    rn = F.row_number().over(
        W.partitionBy("window_start")
        .orderBy(F.col("n").desc(),
                 F.col("event_type").asc_nulls_last()))
    return (drained.withColumn("rn", rn)
            .filter(F.col("rn") <= 2)
            .select("window_start", "event_type", "n",
                    F.col("rn").cast("long").alias("rank"))
            .orderBy("window_start", "rank"))


@query(
    "stream_ohlc_drain",
    oracle="""
    WITH b AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type,
                                date_trunc('hour', CAST(ts AS TIMESTAMP))
                   ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type,
                                date_trunc('hour', CAST(ts AS TIMESTAMP))
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT window_start, event_type,
           CAST(MAX(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT)
               AS open_cents,
           CAST(MAX(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT)
               AS close_cents,
           CAST(MAX(cents) AS BIGINT) AS high_cents,
           CAST(MIN(cents) AS BIGINT) AS low_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM b GROUP BY window_start, event_type
    """,
)
def stream_ohlc_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars drained through the incremental
    engine: open/close picked by min_by/max_by over the
    (ts, event_id) total order inside the stateful aggregate, so
    the drained result is deterministic under any batch split and
    gets a full oracle (the replay ranks within each hour)."""
    return _drain(spark, sf_dir, es.ohlc_hourly, "q_stream_ohlc", "complete")


@query(
    "stream_session_intent_drain",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                         > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_type,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)
                   AS session_idx
        FROM ordered
    )
    SELECT user_id,
           MIN(CAST(ts AS TIMESTAMP)) AS session_start,
           CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS has_click,
           CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS has_purchase,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_idx
    """,
)
def stream_session_intent_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session-intent flags (the cart-abandonment
    aggregate) drained through the incremental engine; the
    oracle replays the 30-minute session rule with the batch
    lag walk — session_window's merge semantics and the gap rule
    agree exactly, which the match proves."""
    return _drain(spark, sf_dir, es.session_intent,
                  "q_stream_intent", "complete")


@query(
    "stream_merge_into_snapshot",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           event_type, value
    FROM (
        SELECT user_id, event_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC)
                   AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def stream_merge_into_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-to-lakehouse sink: the event stream drains through
    foreachBatch into a manifest-committed snapshot table with
    newest-wins merge semantics, then the LATEST VERSION is read
    back through the time-travel path. Final state is the global
    per-user argmax by (ts, event_id) regardless of micro-batch
    split — which is exactly what the oracle recomputes, so a
    merge that loses a batch, resurrects an old row, or breaks
    the recency guard hash-fails. Staging re-runs are idempotent
    (same checkpoint → zero new batches; fresh testdata re-keys
    the dir)."""
    from ..scratch import scratch_dir, source_fingerprint
    from ..sources.snapshots import read_snapshot

    stage = scratch_dir(
        "stream_snapmerge", sf_dir,
        version="v1|" + source_fingerprint(sf_dir, "events.parquet"))
    table = os.path.join(stage, "user_state")
    marker = os.path.join(stage, "_DRAINED")
    if not os.path.exists(marker):
        es.run_merge_into_snapshot(es.events_stream(spark, sf_dir), table)
        open(marker, "w").close()
    return (read_snapshot(spark, table)
            .select("user_id", "event_id", "ts", "event_type", "value"))


@query(
    "stream_distinct_users_hourly",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY 1
    """,
)
def stream_distinct_users_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained stateful operators (dedup -> windowed count)
    drained through the incremental engine: exact distinct users
    per hour. See streaming/events_stream.distinct_users_hourly
    for why this composition is the streaming COUNT(DISTINCT)."""
    return _drain(spark, sf_dir, es.distinct_users_hourly,
                  "q_stream_distinct_users", "complete")


@query(
    "stream_user_profiles",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / 100.0 AS total_value,
           CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_ts_micros
    FROM events GROUP BY user_id
    """,
)
def stream_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running profile (event count, exact value sum, last
    event time) kept in custom state, update mode."""
    from ..streaming.stateful import user_profiles
    return _drain(spark, sf_dir, user_profiles, "q_stream_profiles", "update")
