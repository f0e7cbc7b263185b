"""Batch twins of the streaming pipelines (SURVEY.md §2.10, M5).

Each query computes, with batch operators, exactly what the corresponding
streaming pipeline in streaming/events.py emits once the stream drains —
the driver's oracle hash-checks the batch side; tests/test_streaming.py
asserts stream ≡ batch on the same data.

Bucketing is epoch arithmetic (floor(us / width)) rather than Spark's
``window()`` struct in the oracle-facing output so both engines agree on
representation: bucket starts are epoch seconds (BIGINT), tz-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import r2, sql_r2
from ..sources import load_table
from .registry import register

TEN_MIN_US = 600_000_000
FIVE_MIN_US = 300_000_000


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
    """10-minute tumbling counts per type — batch twin of
    streaming.events.tumbling_counts (same windows via window(); bucket
    emitted as epoch seconds)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), r2(F.sum("value")).alias("sum_value"))
        .select(
            (F.unix_micros(F.col("w.start")) / 1_000_000).cast("long").alias("bucket_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )


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
    """10-min/5-min sliding counts — every event in exactly two windows
    (Spark's window(ts, 10m, 5m); the oracle reconstructs the same windows
    by epoch arithmetic)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            (F.unix_micros(F.col("w.start")) / 1_000_000).cast("long").alias("bucket_s"),
            "event_type",
            "n",
        )
    )


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
    """Gap-based sessions (30-min) per user — batch session_window; the
    oracle derives identical sessions with lag + cumulative new-session
    flags (new session when the gap is ≥ the threshold, matching
    session_window's half-open [first, last+gap) semantics)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            (F.unix_micros("first_ts") / 1_000_000).cast("long").alias("session_start_s"),
            "n_events",
            ((F.unix_micros("last_ts") - F.unix_micros("first_ts")) / 1_000_000)
            .cast("long")
            .alias("duration_s"),
        )
    )


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
    """Batch twin of the stream-stream click->purchase interval join
    (streaming.events.stream_stream_click_purchase_join): same equi key +
    event-time band."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("interval 15 minutes"))
    )
    return purchases.join(clicks, cond, "inner").select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
        "click_value",
    )


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
    """Batch twin of streaming.events.static_enriched_counts: the
    stream-static enrichment join (events x customer dim on
    user_id = c_custkey, broadcast — no stream-side shuffle for the
    join) rolled up into 10-minute tumbling counts per market segment.
    tests/test_streaming.py drains the streaming pipeline and asserts
    it emits exactly these rows."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            (F.unix_micros(F.col("w.start")) / 1_000_000)
            .cast("long")
            .alias("bucket_s"),
            F.col("c_mktsegment").alias("segment"),
            "n",
        )
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
    """Batch twin of streaming.events.windowed_topk_counts + finalize_topk:
    top-3 event types per 6-hour tumbling window (rank ties broken on
    event_type). The streaming side splits this into an incrementally-
    maintainable windowed count plus a per-micro-batch rank (foreachBatch)
    because ranking itself is not append-mode maintainable;
    tests/test_streaming.py drains the stream through both stages and
    asserts it emits exactly these rows. At 100 TB the rank stage's input
    is windows x event-types — metadata-scale next to the event stream."""
    from ..streaming.events import finalize_topk

    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            (F.unix_micros(F.col("w.start")) / 1_000_000)
            .cast("long")
            .alias("bucket_s"),
            "event_type",
            "n",
        )
    )
    return finalize_topk(counts, k=3)


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
    """Batch twin of streaming.events.latest_state — the CDC latest-value-
    per-key materialization: per user, the (ts, event_id)-greatest event's
    type and value plus the lifetime event count. In streaming this is ONE
    state row per key updated in place (max_by aggregate, update mode, no
    watermark since keys never expire); in batch it is a single
    map-side-combinable groupBy — both sides deterministic because the
    ordering key (ts, event_id) is unique. The last event's value is a
    single row's double (no summation), so the r2 grid is cosmetic.
    Engine shape at 100 TB: the batch twin is one shuffle keyed by user;
    the oracle's window formulation exists for SQL clarity only.
    tests/test_streaming.py::test_latest_state_equivalence drains the
    stream and asserts it emits exactly these rows."""
    ev = load_table(spark, sf_dir, "events")
    latest = F.max_by(
        F.struct(
            F.unix_micros(F.col("ts")).alias("us"),
            F.col("event_id").alias("event_id"),
            F.col("event_type").alias("event_type"),
            F.col("value").alias("value"),
        ),
        F.struct(F.unix_micros(F.col("ts")), F.col("event_id")),
    )
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"), latest.alias("last"))
        .select(
            "user_id",
            "n_events",
            F.col("last.us").alias("last_ts_us"),
            F.col("last.event_type").alias("last_type"),
            r2(F.col("last.value")).alias("last_value"),
        )
    )


# --- streaming decayed engagement (batch twin) ----------------------------------


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
    """Batch twin of streaming.events.decayed_state + read-out: the
    7-day-half-life engagement score maintained INCREMENTALLY — the
    per-user state is the time-shifted sum S = sum(v * exp(+lam*(t-t0)))
    (each term constant at ingest time, so it streams as a plain
    update-mode aggregate with one state row per user), and the score at
    the stream's high-watermark T is S * exp(-lam*(T-t0)). Same model as
    events_decayed_engagement but algebraically refactored for
    streamability — the two differ only in op order inside the r4 grid
    (documented sum-order contract). Drain test:
    tests/test_streaming.py::test_decayed_engagement_equivalence drains
    the stream, applies the identical read-out, and matches this twin.
    At 100 TB streaming: state is O(|users|) doubles, no watermark, no
    window — the feature-store continuous-refresh shape."""
    from ..streaming.events import (
        _DECAY_LAM_PER_DAY,
        _DECAY_T0_US,
        _US_PER_DAY_F,
        decayed_state,
    )

    ev = load_table(spark, sf_dir, "events")
    st = decayed_state(ev)
    g = st.agg(F.max("last_us").alias("t_now"))
    return st.crossJoin(F.broadcast(g)).select(
        "user_id",
        "n_events",
        (
            F.floor(
                F.col("s_shift")
                * F.exp(
                    -F.lit(_DECAY_LAM_PER_DAY)
                    * (
                        (F.col("t_now") - F.lit(_DECAY_T0_US))
                        / _US_PER_DAY_F
                    )
                )
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("decayed_score"),
    )
