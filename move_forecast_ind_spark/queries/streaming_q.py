"""The streaming pipelines as batch queries (SURVEY.md §2.10, M5).

Eight of these queries are a streaming transform from streaming/events.py
applied to the batch events table — one definition, run incrementally there
and once here. ``st_dedup_counts`` and ``st_stateful_user_gaps`` compute with
batch operators what ``dropDuplicatesWithinWatermark`` and the GroupState
operator in streaming/stateful.py leave behind. The driver's oracle
hash-checks every query; tests/test_streaming.py drains each stream and
asserts it emits the query's rows.

Bucket starts are emitted as epoch seconds (BIGINT, tz-free) rather than
Spark's ``window()`` struct, so both engines agree on representation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import sql_r2
from ..sources import load_table
from ..streaming.events import (
    decayed_scores,
    decayed_state,
    finalize_topk,
    latest_state,
    session_stats,
    sliding_counts,
    static_enriched_counts,
    stream_stream_click_purchase_join,
    tumbling_counts,
    windowed_topk_counts,
)
from .registry import register


@register(
    "st_tumbling_counts",
    bench=True,
    tags=("streaming", "window", "aggregate"),
    oracle=f"""
    SELECT (epoch_us(ts) // 600000000) * 600 AS bucket_s,
           event_type,
           COUNT(*) AS n,
           {sql_r2('SUM(value)')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling counts and r2 value sums per type —
    streaming.events.tumbling_counts on the batch table."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


@register(
    "st_sliding_counts",
    tags=("streaming", "window", "aggregate"),
    oracle="""
    WITH shifted AS (
      SELECT event_type,
             unnest([ (epoch_us(ts) // 300000000) * 300000000 - 300000000,
                      (epoch_us(ts) // 300000000) * 300000000 ]) AS w_start_us,
             epoch_us(ts) AS us
      FROM events
    )
    SELECT w_start_us // 1000000 AS bucket_s,
           event_type,
           COUNT(*) AS n
    FROM shifted
    WHERE us >= w_start_us AND us < w_start_us + 600000000
    GROUP BY 1, 2
    """,
)
def st_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-min/5-min sliding counts — every event in exactly two windows —
    streaming.events.sliding_counts on the batch table (the oracle
    reconstructs the same windows by epoch arithmetic)."""
    return sliding_counts(load_table(spark, sf_dir, "events"))


@register(
    "st_session_stats",
    bench=True,
    tags=("streaming", "session", "window"),
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             event_id,
             epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, us,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id,
           MIN(us) // 1000000                 AS session_start_s,
           COUNT(*)                           AS n_events,
           (MAX(us) - MIN(us)) // 1000000     AS duration_s
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def st_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30-min) per user — streaming.events.session_stats
    on the batch table; the oracle derives identical sessions with lag +
    cumulative new-session flags (new session when the gap is ≥ the
    threshold, matching session_window's half-open [first, last+gap)
    semantics)."""
    return session_stats(load_table(spark, sf_dir, "events"))


@register(
    "st_dedup_counts",
    tags=("streaming", "dedup", "aggregate"),
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT (user_id, event_type, epoch_us(ts) // 60000000)) AS BIGINT)
             AS n_unique,
           COUNT(*) AS n_raw
    FROM events
    GROUP BY 1
    """,
)
def st_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on (user, type, minute) — batch twin of
    dropDuplicatesWithinWatermark: unique key count vs raw count per type."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.withColumn(
        "minute_bucket", (F.unix_micros("ts") / 60_000_000).cast("long")
    )
    return keyed.groupBy("event_type").agg(
        F.countDistinct("user_id", "event_type", "minute_bucket").alias("n_unique"),
        F.count(F.lit(1)).alias("n_raw"),
    )


@register(
    "st_interval_join",
    tags=("streaming", "join", "interval"),
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
           c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 15 MINUTE
    """,
)
def st_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click->purchase interval join (same user, click within the 15
    minutes before the purchase) —
    streaming.events.stream_stream_click_purchase_join on the batch
    table."""
    return stream_stream_click_purchase_join(load_table(spark, sf_dir, "events"))


@register(
    "st_stateful_user_gaps",
    tags=("streaming", "stateful", "window"),
    oracle="""
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS us,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_us,
           MAX(us) AS last_seen_us
    FROM o GROUP BY 1
    """,
)
def st_stateful_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/stateful.py::stateful_user_gaps (custom
    GroupState operator): per-user count, max gap between CONSECUTIVE
    events (µs, (ts, event_id) order), last-seen timestamp (µs). In batch
    the consecutive gap is a lag window; in the stream it is the
    last-seen-µs scalar the GroupState carries across micro-batches —
    tests/test_streaming.py asserts the drained state matches this row
    for row."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id", us.alias("us"), (us - F.lag(us).over(w)).alias("gap")
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias("max_gap_us"),
        F.max("us").alias("last_seen_us"),
    )


@register(
    "st_static_enrich_counts",
    tags=("streaming", "join", "aggregate"),
    oracle="""
    SELECT (epoch_us(e.ts) // 600000000) * 600 AS bucket_s,
           c.c_mktsegment AS segment,
           COUNT(*) AS n
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def st_static_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events x broadcast customer dim on user_id = c_custkey, rolled up
    into 10-minute tumbling counts per market segment —
    streaming.events.static_enriched_counts on the batch table."""
    return static_enriched_counts(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


@register(
    "st_topk_per_window",
    tags=("streaming", "window", "topk"),
    oracle="""
    WITH c AS (
      SELECT (epoch_us(ts) // 21600000000) * 21600 AS bucket_s,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY bucket_s
                                        ORDER BY n DESC, event_type)
                     AS INT) AS rank
      FROM c
    )
    SELECT bucket_s, rank, event_type, n FROM r WHERE rank <= 3
    """,
)
def st_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 6-hour tumbling window (rank ties broken on
    event_type) — streaming.events.windowed_topk_counts then finalize_topk
    on the batch table. The stream splits the two stages because ranking
    is not append-mode maintainable."""
    ev = load_table(spark, sf_dir, "events")
    return finalize_topk(windowed_topk_counts(ev), k=3)


@register(
    "st_cdc_latest_state",
    tags=("streaming", "aggregate", "cdc"),
    oracle="""
    WITH r AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts) DESC, event_id DESC)
               AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
      FROM events
    )
    SELECT user_id, n_events, us AS last_ts_us, event_type AS last_type,
           FLOOR(value * 1e2 + 0.5) / 1e2 AS last_value
    FROM r WHERE rn = 1
    """,
)
def st_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest value per key: per user, the (ts, event_id)-greatest
    event's type and value plus the lifetime event count —
    streaming.events.latest_state on the batch table. The ordering key is
    unique, so both engines are deterministic; the oracle's window
    formulation exists for SQL clarity only."""
    return latest_state(load_table(spark, sf_dir, "events"))


@register(
    "st_decayed_engagement",
    tags=("streaming", "aggregate", "feature"),
    oracle="""
    WITH st AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             SUM(value * exp(9.902102579427789e-2
                 * ((epoch_us(ts) - 1704067200000000) / 8.64e10))) AS s_shift,
             CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
      FROM events GROUP BY 1
    ),
    g AS (SELECT MAX(last_us) AS t_now FROM st)
    SELECT user_id, n_events,
           FLOOR(s_shift * exp(-9.902102579427789e-2
                 * ((g.t_now - 1704067200000000) / 8.64e10)) * 1e4 + 0.5)
             / 1e4 AS decayed_score
    FROM st CROSS JOIN g
    """,
)
def st_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day-half-life engagement score maintained INCREMENTALLY —
    streaming.events.decayed_state then decayed_scores on the batch table.
    The per-user state is the time-shifted sum S = sum(v * exp(+lam*(t-t0)))
    (each term constant at ingest time, so it streams as a plain
    update-mode aggregate with one state row per user), and the score at
    the high-watermark T is S * exp(-lam*(T-t0)). Same model as
    events_decayed_engagement but algebraically refactored for
    streamability — the two differ only in op order inside the r4 grid
    (documented sum-order contract). At 100 TB streaming: state is
    O(|users|) doubles, no watermark, no window — the feature-store
    continuous-refresh shape."""
    return decayed_scores(decayed_state(load_table(spark, sf_dir, "events")))
